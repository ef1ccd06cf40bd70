package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{ClusterMetrics, Curation, Dedup, Events, Graph, KMeans, Multimodal, PCA, Sampling, Similarity, Skew, TemporalJoins, TextAnalysis, Tokenizer}
import graft.functions.VectorOps
import graft.sources.GeneIO
import graft.streaming.{DedupStream, EventStream}
import graft.EntryHelpers._

/** Reference K-Means surface (SURVEY §2 ops 1-17): scan/parse, init, assign, update, fit loop, metrics, membership, centroid format, PCA.
  *
  * One slice of the driver contract, split out of the former
  * monolithic SparkEntry maps (VERDICT r10 item 7) purely for
  * compile-time and review tractability — SparkEntry.queries /
  * .oracleSql concatenate the slices; entry text is unchanged. */
private[graft] object EntryKMeansCore {

  import KMeans.{FirstK, ExplicitIds}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── op 1-2: scan + parse/project (SURVEY §2.1-2) ────────────────
    "q_scan_project" -> ((s, dir) => {
      Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), size(col("embedding")).as("dims"))
    }),


    // ── op 1-2 on the REFERENCE'S OWN FORMAT: gene TSV reader ───────
    // Reads /root/reference/data/new_dataset_1.txt (Iris) — the
    // reference's actual input path (KMeans.java:79-96). Features
    // emitted as 4 scalar double columns for exact oracle compare.
    "q_gene_parse" -> ((s, _) => {
      val g = GeneIO.readGenes(s, "/root/reference/data/new_dataset_1.txt")
      g.select(col("id"), col("label"),
        element_at(col("features"), 1).as("f1"),
        element_at(col("features"), 2).as("f2"),
        element_at(col("features"), 3).as("f3"),
        element_at(col("features"), 4).as("f4"))
    }),


    // ── op 12: explicit-id init, renumbered 1..k (KMeans.java:597-606)
    "q_kmeans_init" -> ((s, dir) => {
      val cents = KMeans.initCentroids(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", ExplicitIds(Seq(42L, 7L, 19L)))
      val ids = Map(1 -> 42L, 2 -> 7L, 3 -> 19L)
      import s.implicits._
      cents.toSeq.map { case (cid, v) => (cid, ids(cid), v.head) }
        .toDF("cluster", "vec_id", "f1")
    }),


    // ── op 12+: k-means++ D²-weighted seeding (3 rounds, seed 42) ───
    // The md5-uniform exponential race is deterministic, so the
    // chosen seed VECTORS are oracle-checkable bit-for-bit.
    "q_kmeans_pp" -> ((s, dir) => {
      val cents = KMeans.initCentroids(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", KMeans.PlusPlus(3, seed = 42L))
      import s.implicits._
      cents.toSeq.flatMap { case (cid, v) =>
        v.zipWithIndex.map { case (x, i) => (cid, i + 1, x) }
      }.toDF("cluster", "pos", "val")
    }),


    // ── op 3-5: broadcast centroids + distance + argmin assignment ──
    "q_kmeans_assign" -> ((s, dir) => {
      KMeans.assign(Tables(s, dir, "embeddings"), "embedding", cents8(s, dir))
        .select(col("vec_id"), col("cluster"))
    }),


    // ── op 6-8: shuffle + partial agg + group-mean, posexplode form ─
    // FP-determinism contract: a distributed `avg` is partial-agg-order
    // dependent in the last ulp, so its hash is flaky vs DuckDB
    // (CORRECTNESS_r01). Instead both engines fold the group's values
    // in SORTED order with a sequential left fold (Spark `aggregate`
    // HOF; DuckDB `list_reduce`), which is bit-deterministic — so no
    // rounding is needed at all. This is the oracle-expressible form;
    // the engine's scale path is KMeans.step (k×(d+1) numbers per task
    // to the driver, summed in partition order, no shuffle).
    "q_centroid_update" -> ((s, dir) => {
      val assigned = KMeans.assign(Tables(s, dir, "embeddings"), "embedding", cents8(s, dir))
      assigned
        .select(col("cluster"),
          posexplode(VectorOps.toDouble(col("embedding"))).as(Seq("pos0", "v")))
        .select(col("cluster"), (col("pos0") + 1).cast("int").as("pos"), col("v"))
        .groupBy("cluster", "pos")
        .agg(collect_list(col("v")).as("vs"))
        .select(col("cluster"), col("pos"),
          (VectorOps.foldSum(array_sort(col("vs"))) / size(col("vs"))).as("val"))
    }),


    // ── op 15-adjacent: WCSS/SSE cost of a centroid set ─────────────
    // Same sorted-fold determinism contract as q_centroid_update.
    "q_kmeans_cost" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      emb.select(KMeans.minSqDistColumn(cents8(s, dir),
          VectorOps.toDouble(col("embedding"))).as("m"))
        .agg(collect_list(col("m")).as("ms"))
        .select(VectorOps.foldSum(array_sort(col("ms"))).as("cost"),
          size(col("ms")).cast("long").as("n"))
    }),


    // ── op 15: Jaccard coefficient vs ground truth ──────────────────
    // The reference's headline metric (KMeans.java:623-665): one grouped
    // (truth, pred) count, collected when the query is built, then driver
    // arithmetic — instead of the reference's n×n driver matrices.
    "q_jaccard" -> ((s, dir) => {
      val assigned = KMeans.assign(Tables(s, dir, "embeddings"), "embedding", cents8(s, dir))
      ClusterMetrics.jaccard(assigned, "label", "cluster")
    }),


    // ── op 15 family: Rand index (Jaccard's counts plus n) ─────────
    "q_rand_index" -> ((s, dir) => {
      val assigned = KMeans.assign(Tables(s, dir, "embeddings"), "embedding", cents8(s, dir))
      ClusterMetrics.randIndex(assigned, "label", "cluster")
    }),


    // ── op 15 family: cluster purity ────────────────────────────────
    "q_purity" -> ((s, dir) => {
      val assigned = KMeans.assign(Tables(s, dir, "embeddings"), "embedding", cents8(s, dir))
      ClusterMetrics.purity(assigned, "label", "cluster")
    }),


    // ── op 15 family: simplified (centroid-based) silhouette ────────
    "q_silhouette" -> ((s, dir) => {
      val cents = cents8(s, dir)
      val assigned = KMeans.assign(Tables(s, dir, "embeddings"), "embedding", cents)
      ClusterMetrics.simplifiedSilhouette(assigned, "embedding", cents, sortedFold = true)
    }),


    // ── extension: Calinski-Harabasz variance-ratio criterion ───────
    "q_calinski" -> ((s, dir) => {
      val cents = cents8(s, dir)
      val assigned = KMeans.assign(Tables(s, dir, "embeddings"), "embedding", cents)
      ClusterMetrics.calinskiHarabasz(assigned, "embedding", cents, sortedFold = true)
    }),


    // ── op 10-11: iterative driver loop, 2 Lloyd steps from FirstK(8)
    // The loop's oracle gate: both engines run assign→mean twice with
    // the sorted-fold determinism contract, so the step-2 centroids
    // are bit-exact. (The scale path is fit()/step(), one single-stage
    // job per step, pinned against its groupBy twin in KMeansSpec.)
    "q_kmeans_fit2" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val c1 = KMeans.stepSortedFold(emb, "embedding", cents8(s, dir))
      val c2 = KMeans.stepSortedFold(emb, "embedding", c1)
      import s.implicits._
      c2.toSeq.flatMap { case (cid, v) =>
        v.zipWithIndex.map { case (x, i) => (cid, i + 1, x) }
      }.toDF("cluster", "pos", "val")
    }),


    // ── op 11 + 16: convergence predicate + telemetry ───────────────
    // (iterations run, surviving cluster count, converged flag) after
    // the same 2-step parity loop — the reference's printed job count
    // and checkSimilar verdict (KMeans.java:283,291-310).
    "q_kmeans_fit_meta" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val c1 = KMeans.stepSortedFold(emb, "embedding", cents8(s, dir))
      val c2 = KMeans.stepSortedFold(emb, "embedding", c1)
      import s.implicits._
      Seq((2, c2.length, KMeans.isConverged(c1, c2, 0.0)))
        .toDF("iterations", "n_clusters", "converged")
    }),


    // ── op 13: membership id-list per cluster (KMeans.java:471) ─────
    "q_membership" -> ((s, dir) => {
      val assigned = KMeans.assign(Tables(s, dir, "embeddings"), "embedding", cents8(s, dir))
      KMeans.membershipLists(assigned, "vec_id")
        .select(col("cluster"), col("n"),
          array_join(col("member_ids"), ",").as("members"))
    }),


    // ── op 9+14: centroid interchange-format sink, ORACLE-gated ─────
    // Renders GeneIO.centroidLines — the reference's on-disk centroid
    // byte format (KMeans.java:516-526: cid\tv1..vd\tid1|id2|…|\t-n) —
    // over a FirstK(4) clustering of exact INTEGER-VALUED features
    // (n_chars, token count), so every vector component formats
    // identically in both engines ("157.0") and the byte format is
    // hash-gated, not just spec-gated (VERDICT r10 item 4). One row
    // per centroid line.
    "q_centroid_format" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select(
        col("doc_id"),
        array(col("n_chars").cast("double"),
          size(split(col("text"), " ")).cast("double")).as("fv"))
      val cents = KMeans.initCentroids(docs, "doc_id", "fv", FirstK(4))
      val assigned = KMeans.assign(docs, "fv", cents)
      val memb = GeneIO.membership(assigned, "doc_id", "cluster")
      import s.implicits._
      GeneIO.centroidLines(cents, memb).toDF("line")
    }),


    // ── op 12: k-means‖ init (Bahmani VLDB'12), HASH-gated ──────────
    // sortedCost = true pins each round's cost(C) to the sorted-fold
    // contract, so the oversampling coin (md5 unit vs l·d²/cost), the
    // candidate insertion order, the assignment weights and the
    // driver-side weighted-++ race are ALL bit-deterministic and the
    // oracle unrolls the full chain in SQL (VERDICT r10 item 6
    // upgraded from the planned rows-only gate). The default
    // partial-agg cost stays the scale path; KMeansSpec pins the two
    // modes against each other.
    "q_kmeans_parallel" -> ((s, dir) => {
      val cents = KMeans.initCentroids(Tables(s, dir, "embeddings"),
        "vec_id", "embedding",
        KMeans.Parallel(4, seed = 42L, rounds = 3, sortedCost = true))
      import s.implicits._
      cents.toSeq.flatMap { case (cid, v) =>
        v.zipWithIndex.map { case (x, i) => (cid, i + 1, x) }
      }.toDF("cluster", "pos", "val")
    }),


    // ── op 12 SCALE PATH: k-means‖ with the default partial-agg cost
    // (sortedCost = false — VERDICT r11 item 1: bench the path a
    // cluster runs, where each round's cost(C) is one map-side-
    // combined sum, not a single-task sorted fold). SAME oracle as
    // q_kmeans_parallel: cost only feeds the oversampling threshold
    // p = l·d²/cost, the admitted candidates are exact data points,
    // and a ~1e-13-relative cost difference flips an admission only
    // if some point's p lands within it of its md5 unit (≈4e-8 over
    // every draw) — so the default-cost output is bit-identical to
    // the parity mode's, which KMeansSpec pins directly.
    "q_kmeans_par_fast" -> ((s, dir) => {
      val cents = KMeans.initCentroids(Tables(s, dir, "embeddings"),
        "vec_id", "embedding",
        KMeans.Parallel(4, seed = 42L, rounds = 3, sortedCost = false))
      import s.implicits._
      cents.toSeq.flatMap { case (cid, v) =>
        v.zipWithIndex.map { case (x, i) => (cid, i + 1, x) }
      }.toDF("cluster", "pos", "val")
    }),


    // ── op 17: PCA — the distributed covariance stage ───────────────
    // (i, j, cov) upper triangle via the sorted-fold parity twin; the
    // scale path is PCA.moments (one GramAgg pass), equality pinned in
    // PCASpec. The driver-side eig + projection are spec-covered —
    // eigendecomposition is not SQL-expressible.
    "q_pca_cov" -> ((s, dir) => {
      PCA.covarianceSortedFold(Tables(s, dir, "embeddings"), "embedding")
    }),


    // ── op 17 SCALE PATH: PCA.moments (one GramAgg pass) ────────────
    // The shipping covariance path under its own bench row (VERDICT
    // r11 item 1 — the headline number a 100×-scale reader sees must
    // be this one, not the O(rows·d²) posexplode parity twin above).
    // Partial-agg sums are partition-order-dependent, so the gate
    // quantizes to an exact INTEGER 1e-4 grid (values are O(0.1),
    // summation noise is O(1e-12) — eleven orders below the grid;
    // integer output also sidesteps -0.0 vs 0.0 hash hazards on the
    // near-zero off-diagonals). floor(x·10⁴ + 0.5), NOT math.round:
    // the same half-up-toward-+inf rule is replayable verbatim in
    // DuckDB, where round() is half-away-from-zero and would disagree
    // on negative half-boundary values (review r12). Same (i, j)
    // triangle as q_pca_cov.
    "q_pca_moments" -> ((s, dir) => {
      val m = PCA.moments(Tables(s, dir, "embeddings"), "embedding")
      import s.implicits._
      val d = m.mean.length
      (for { i <- 0 until d; j <- i until d }
        yield (i + 1, j + 1, math.floor(m.cov(i)(j) * 10000.0 + 0.5).toLong))
        .toDF("i", "j", "cov4")
    }),


    // ── clustering metric: Davies-Bouldin index ─────────────────────
    "q_davies_bouldin" -> ((s, dir) => {
      val cents = cents8(s, dir)
      val assigned = KMeans.assign(Tables(s, dir, "embeddings"), "embedding", cents)
      ClusterMetrics.daviesBouldin(assigned, "embedding", cents, sortedFold = true)
    }),
  )

  // ── q_kmeans_parallel oracle: the full k-means‖ chain unrolled ──
  // Index-ordered sequential d² (the sqlCents8 convention, bit-exact
  // vs VectorOps.sqDist) and the md5 unit both engines share.
  private def sqlSqd(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), q -> (q[1]-q[2])*(q[1]-q[2])))"
  private def sqlU(arg: String): String =
    s"(CAST(concat('0x', substr(md5($arg), 1, 8)) AS BIGINT) / 4294967296.0)"

  /** Replays Parallel(4, seed=42, rounds=3, sortedCost=true) on
    * embeddings end-to-end: seed pick, three oversampling rounds
    * (coin u < least(1, 8·d²/cost), cost = sorted-fold sum — the
    * bit-deterministic parity mode), candidate renumbering in
    * (round, id) insertion order, assignment-count weights
    * (greatest(n,1)), then the driver-side weighted k-means++ race
    * (-ln(u)/w seed, -ln(u)/(w·d²) rounds, d²=0 excluded, ties by
    * id). Output = 4 chosen centroids as (cluster, pos, val). */
  private val sqlKmeansParallel: String = {
    val sampleRounds = (1 to 3).map { r =>
      s"""d$r AS MATERIALIZED (SELECT p.id, p.f,
         |        (SELECT min(${sqlSqd("p.f", "c.f")}) FROM c${r - 1} c) AS d2
         | FROM pts p),
         |cost$r AS (SELECT list_reduce(list_sort(list(d2)), (x, y) -> x + y) AS cost
         |    FROM d$r),
         |a$r AS (SELECT d.id, d.f, $r AS rnd FROM d$r d, cost$r
         | WHERE ${sqlU(s"'42:$r:' || d.id")} < least(1.0, 8.0 * d.d2 / cost)
         |   AND d.id NOT IN (SELECT id FROM c${r - 1})),
         |c$r AS MATERIALIZED (SELECT * FROM c${r - 1} UNION ALL SELECT * FROM a$r),""".stripMargin
    }.mkString("\n")
    val localRounds = (1 to 3).map { r =>
      s"""p${r + 1} AS (SELECT wt.id, wt.f, wt.w,
         |        (SELECT min(${sqlSqd("wt.f", "c.f")}) FROM ch$r c) AS d2
         | FROM wt WHERE wt.id NOT IN (SELECT id FROM ch$r)),
         |l${r + 1} AS MATERIALIZED (SELECT id, f FROM p${r + 1} WHERE d2 > 0
         | ORDER BY -ln(${sqlU(s"'42:local:$r:' || id")}) / (w * d2), id LIMIT 1),
         |ch${r + 1} AS MATERIALIZED (SELECT * FROM ch$r UNION ALL SELECT id, f FROM l${r + 1}),""".stripMargin
    }.mkString("\n")
    s"""WITH pts AS (SELECT vec_id AS id, embedding::DOUBLE[] AS f FROM embeddings),
       |c0 AS MATERIALIZED (SELECT id, f, 0 AS rnd FROM pts
       | ORDER BY ${sqlU("'42:0:' || id")}, id LIMIT 1),
       |$sampleRounds
       |cands AS MATERIALIZED (SELECT id, f,
       |                 CAST(row_number() OVER (ORDER BY rnd, id) AS INTEGER) AS cid
       |          FROM c3),
       |asg AS (SELECT id, cid FROM (
       |          SELECT p.id, c.cid,
       |                 row_number() OVER (PARTITION BY p.id
       |                                    ORDER BY ${sqlSqd("p.f", "c.f")}, c.cid) AS rn
       |          FROM pts p CROSS JOIN cands c) WHERE rn = 1),
       |wt AS MATERIALIZED (SELECT c.id, c.f, c.cid, greatest(coalesce(a.n, 0), 1) AS w
       |       FROM cands c LEFT JOIN (SELECT cid, CAST(count(*) AS BIGINT) AS n
       |                               FROM asg GROUP BY cid) a USING (cid)),
       |l1 AS MATERIALIZED (SELECT id, f FROM wt
       | ORDER BY -ln(${sqlU("'42:local:0:' || id")}) / w, id LIMIT 1),
       |ch1 AS MATERIALIZED (SELECT id, f FROM l1),
       |$localRounds
       |sel AS (SELECT 1 AS cluster, f AS v FROM l1
       |        UNION ALL SELECT 2, f FROM l2
       |        UNION ALL SELECT 3, f FROM l3
       |        UNION ALL SELECT 4, f FROM l4)
       |SELECT CAST(cluster AS INTEGER) AS cluster,
       |       CAST(generate_subscripts(v, 1) AS INTEGER) AS pos,
       |       unnest(v) AS val
       |FROM sel""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q_kmeans_parallel" -> sqlKmeansParallel,
    // the default-cost scale path admits the same candidates (cost
    // only feeds the threshold; see the query's doc comment), so the
    // parity unroll applies verbatim
    "q_kmeans_par_fast" -> sqlKmeansParallel,


    "q_scan_project" ->
      "SELECT vec_id, label, CAST(len(embedding) AS INTEGER) AS dims FROM embeddings",


    "q_gene_parse" ->
      """SELECT CAST(column0 AS BIGINT) AS id, CAST(column1 AS INTEGER) AS label,
        |       CAST(column2 AS DOUBLE) AS f1, CAST(column3 AS DOUBLE) AS f2,
        |       CAST(column4 AS DOUBLE) AS f3, CAST(column5 AS DOUBLE) AS f4
        |FROM read_csv('/root/reference/data/new_dataset_1.txt', sep='\t', header=false)""".stripMargin,


    "q_kmeans_init" ->
      """SELECT i.cluster, i.vec_id, CAST(e.embedding[1] AS DOUBLE) AS f1
        |FROM (VALUES (1, CAST(42 AS BIGINT)), (2, CAST(7 AS BIGINT)), (3, CAST(19 AS BIGINT))) i(cluster, vec_id)
        |JOIN embeddings e ON e.vec_id = i.vec_id""".stripMargin,


    "q_kmeans_assign" ->
      s"""WITH $sqlCents8
         |SELECT vec_id, cluster FROM a""".stripMargin,


    "q_kmeans_pp" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |u0 AS (SELECT vec_id, v,
        |              CAST(concat('0x', substr(md5('42:0:' || vec_id), 1, 8)) AS BIGINT)
        |                / 4294967296.0 AS u
        |       FROM e),
        |c1 AS (SELECT vec_id, v FROM u0 ORDER BY u, vec_id LIMIT 1),
        |k1 AS (
        |  SELECT e.vec_id, e.v,
        |         list_sum(list_transform(list_zip(e.v, c1.v), p -> (p[1]-p[2])*(p[1]-p[2]))) AS d2,
        |         CAST(concat('0x', substr(md5('42:1:' || e.vec_id), 1, 8)) AS BIGINT)
        |           / 4294967296.0 AS u
        |  FROM e CROSS JOIN c1
        |),
        |c2 AS (SELECT vec_id, v FROM k1 WHERE d2 > 0 AND u > 0 ORDER BY -ln(u)/d2, vec_id LIMIT 1),
        |k2 AS (
        |  SELECT e.vec_id, e.v,
        |         least(
        |           list_sum(list_transform(list_zip(e.v, c1.v), p -> (p[1]-p[2])*(p[1]-p[2]))),
        |           list_sum(list_transform(list_zip(e.v, c2.v), p -> (p[1]-p[2])*(p[1]-p[2])))) AS d2,
        |         CAST(concat('0x', substr(md5('42:2:' || e.vec_id), 1, 8)) AS BIGINT)
        |           / 4294967296.0 AS u
        |  FROM e CROSS JOIN c1 CROSS JOIN c2
        |),
        |c3 AS (SELECT vec_id, v FROM k2 WHERE d2 > 0 AND u > 0 ORDER BY -ln(u)/d2, vec_id LIMIT 1),
        |sel AS (
        |  SELECT 1 AS cluster, v FROM c1
        |  UNION ALL SELECT 2, v FROM c2
        |  UNION ALL SELECT 3, v FROM c3
        |)
        |SELECT CAST(cluster AS INTEGER) AS cluster,
        |       CAST(generate_subscripts(v, 1) AS INTEGER) AS pos,
        |       unnest(v) AS val
        |FROM sel""".stripMargin,


    "q_centroid_update" ->
      s"""WITH $sqlCents8,
         |x AS (
         |  SELECT vec_id,
         |         CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos,
         |         CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings
         |)
         |SELECT a.cluster, x.pos,
         |       list_reduce(list_sort(list(x.v)), (acc, e) -> acc + e) / count(*) AS val
         |FROM a JOIN x USING (vec_id)
         |GROUP BY 1, 2""".stripMargin,


    "q_kmeans_cost" ->
      s"""WITH $sqlCents8
         |SELECT list_reduce(list_sort(list(m)), (acc, e) -> acc + e) AS cost,
         |       count(*) AS n
         |FROM (SELECT vec_id, min(dist) AS m FROM d GROUP BY 1)""".stripMargin,


    "q_kmeans_fit2" ->
      s"""WITH $sqlFit2
         |SELECT cluster, pos, val FROM c2""".stripMargin,


    "q_kmeans_fit_meta" ->
      s"""WITH $sqlFit2
         |SELECT CAST(2 AS INTEGER) AS iterations,
         |       CAST((SELECT count(DISTINCT cluster) FROM c2) AS INTEGER) AS n_clusters,
         |       ((SELECT count(*) FROM c1) = (SELECT count(*) FROM c2)
         |        AND (SELECT count(*) FROM
         |               (SELECT cluster, pos, val FROM c1
         |                UNION
         |                SELECT cluster, pos, val FROM c2))
         |            = (SELECT count(*) FROM c1)) AS converged""".stripMargin,


    "q_membership" ->
      s"""WITH $sqlCents8
         |SELECT cluster, count(*) AS n,
         |       string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY vec_id) AS members
         |FROM a GROUP BY cluster""".stripMargin,


    // Replays the reference centroid byte format end-to-end: FirstK(4)
    // seeds renumbered in doc_id order, exact-integer argmin assign
    // (tie -> lowest cid), sorted '|'-joined membership, '-n' count
    // suffix. All vector components are integer-valued doubles, so
    // CAST(v AS VARCHAR) == Java Double.toString ("157.0") on both
    // engines — the byte format itself is under the hash gate.
    "q_centroid_format" ->
      """WITH f AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS v1,
        |                  CAST(len(string_split(text, ' ')) AS DOUBLE) AS v2
        |           FROM documents),
        |c AS (SELECT row_number() OVER (ORDER BY doc_id) AS cid, v1, v2
        |      FROM (SELECT * FROM f ORDER BY doc_id LIMIT 4)),
        |d AS (SELECT f.doc_id, c.cid,
        |             (f.v1 - c.v1) * (f.v1 - c.v1)
        |             + (f.v2 - c.v2) * (f.v2 - c.v2) AS dist
        |      FROM f CROSS JOIN c),
        |a AS (SELECT doc_id, cid
        |      FROM (SELECT doc_id, cid,
        |                   row_number() OVER (PARTITION BY doc_id
        |                                      ORDER BY dist, cid) AS rn
        |            FROM d)
        |      WHERE rn = 1),
        |m AS (SELECT cid,
        |             string_agg(CAST(doc_id AS VARCHAR), '|' ORDER BY doc_id)
        |               || '|' AS ids,
        |             CAST(count(*) AS BIGINT) AS n
        |      FROM a GROUP BY cid)
        |SELECT CAST(c.cid AS VARCHAR) || chr(9)
        |       || CAST(c.v1 AS VARCHAR) || chr(9) || CAST(c.v2 AS VARCHAR)
        |       || CASE WHEN m.cid IS NULL THEN ''
        |               ELSE chr(9) || m.ids || chr(9) || '-' || CAST(m.n AS VARCHAR)
        |          END AS line
        |FROM c LEFT JOIN m ON m.cid = c.cid""".stripMargin,


    "q_pca_cov" ->
      """WITH x AS (
        |  SELECT vec_id,
        |         CAST(generate_subscripts(embedding, 1) AS INTEGER) AS i,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings
        |),
        |mu AS (
        |  SELECT i, list_reduce(list_sort(list(v)), (acc, e) -> acc + e) / count(*) AS m
        |  FROM x GROUP BY 1
        |),
        |cx AS (SELECT x.vec_id, x.i, x.v - mu.m AS cv FROM x JOIN mu USING (i)),
        |pr AS (
        |  SELECT a.i AS i, b.i AS j, a.cv * b.cv AS p
        |  FROM cx a JOIN cx b ON a.vec_id = b.vec_id AND a.i <= b.i
        |)
        |SELECT i, j, list_reduce(list_sort(list(p)), (acc, e) -> acc + e) / (count(*) - 1) AS cov
        |FROM pr GROUP BY 1, 2""".stripMargin,


    // scale-path twin: covar_samp on the exact-integer 1e-4 grid —
    // floor(x·10⁴ + 0.5) mirrors the Spark side exactly (see the
    // query's doc comment for the rounding-rule rationale)
    "q_pca_moments" ->
      """WITH x AS (
        |  SELECT vec_id,
        |         CAST(generate_subscripts(embedding, 1) AS INTEGER) AS i,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings
        |)
        |SELECT a.i AS i, b.i AS j,
        |       CAST(floor(covar_samp(a.v, b.v) * 10000 + 0.5) AS BIGINT) AS cov4
        |FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
        |GROUP BY 1, 2""".stripMargin,


    "q_jaccard" ->
      s"""WITH $sqlCents8,
         |jj AS (
         |  SELECT CAST(e.label AS BIGINT) AS truth, CAST(a.cluster AS BIGINT) AS pred
         |  FROM embeddings e JOIN a ON a.vec_id = e.vec_id
         |),
         |cells AS (SELECT truth, pred, count(*) AS n FROM jj GROUP BY 1, 2),
         |mm AS (SELECT CAST(coalesce(sum(n*n), 0) AS BIGINT) AS m11
         |       FROM cells WHERE truth != -1 AND pred != -1),
         |gg AS (SELECT CAST(coalesce(sum(nt*nt), 0) AS BIGINT) AS g
         |       FROM (SELECT sum(n) AS nt FROM cells WHERE truth != -1 GROUP BY truth)),
         |pp AS (SELECT CAST(coalesce(sum(np*np), 0) AS BIGINT) AS p
         |       FROM (SELECT sum(n) AS np FROM cells WHERE pred != -1 GROUP BY pred))
         |SELECT m11, g + p - 2*m11 AS disagree,
         |       CAST(m11 AS DOUBLE) / CAST(g + p - m11 AS DOUBLE) AS jaccard
         |FROM mm, gg, pp""".stripMargin,


    "q_silhouette" ->
      s"""WITH $sqlCents8,
         |sil AS (
         |  SELECT d.vec_id,
         |         sqrt(min(CASE WHEN d.cid = a.cluster THEN d.dist END)) AS ad,
         |         sqrt(min(CASE WHEN d.cid != a.cluster THEN d.dist END)) AS bd
         |  FROM d JOIN a USING (vec_id) GROUP BY d.vec_id
         |),
         |ss AS (
         |  SELECT CASE WHEN greatest(ad, bd) > 0 THEN (bd - ad) / greatest(ad, bd)
         |              ELSE 0.0 END AS s
         |  FROM sil
         |)
         |SELECT list_reduce(list_sort(list(s)), (acc, e) -> acc + e) / count(*) AS silhouette,
         |       count(*) AS n
         |FROM ss""".stripMargin,


    "q_calinski" ->
      s"""WITH $sqlCents8,
         |own AS (
         |  SELECT d.vec_id, min(CASE WHEN d.cid = a.cluster THEN d.dist END) AS d2
         |  FROM d JOIN a USING (vec_id) GROUP BY d.vec_id
         |),
         |w AS (SELECT list_reduce(list_sort(list(d2)), (acc, e) -> acc + e) AS w,
         |             CAST(count(*) AS BIGINT) AS n
         |      FROM own),
         |x AS (SELECT CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos,
         |             CAST(unnest(embedding) AS DOUBLE) AS v
         |      FROM embeddings),
         |mu AS (SELECT pos,
         |              list_reduce(list_sort(list(v)), (acc, e) -> acc + e) / count(*) AS m
         |       FROM x GROUP BY pos),
         |muv AS (SELECT list(m ORDER BY pos) AS mu FROM mu),
         |nc AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_c FROM a GROUP BY cluster),
         |bt AS (
         |  SELECT c.cid,
         |         CAST(COALESCE(nc.n_c, 0) AS DOUBLE)
         |           * list_sum(list_transform(list_zip(c.cvec, muv.mu),
         |                                     p -> (p[1]-p[2])*(p[1]-p[2]))) AS t
         |  FROM c CROSS JOIN muv LEFT JOIN nc ON nc.cluster = c.cid
         |),
         |b AS (SELECT list_reduce(list(t ORDER BY cid), (acc, e) -> acc + e) AS b FROM bt)
         |SELECT CASE WHEN w.n > 8
         |            THEN (b.b / (8 - 1)) / (w.w / (w.n - 8)) END AS ch,
         |       b.b AS b, w.w AS w, w.n AS n
         |FROM b CROSS JOIN w""".stripMargin,


    "q_rand_index" ->
      s"""WITH $sqlCents8,
         |jj AS (
         |  SELECT CAST(e.label AS BIGINT) AS truth, CAST(a.cluster AS BIGINT) AS pred
         |  FROM embeddings e JOIN a ON a.vec_id = e.vec_id
         |),
         |cells AS (SELECT truth, pred, count(*) AS n FROM jj GROUP BY 1, 2),
         |mm AS (SELECT CAST(coalesce(sum(n*n), 0) AS BIGINT) AS m11
         |       FROM cells WHERE truth != -1 AND pred != -1),
         |gg AS (SELECT CAST(coalesce(sum(nt*nt), 0) AS BIGINT) AS g
         |       FROM (SELECT sum(n) AS nt FROM cells WHERE truth != -1 GROUP BY truth)),
         |pp AS (SELECT CAST(coalesce(sum(np*np), 0) AS BIGINT) AS p
         |       FROM (SELECT sum(n) AS np FROM cells WHERE pred != -1 GROUP BY pred)),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS ntot FROM jj)
         |SELECT m11, ntot*ntot - g - p + m11 AS m00,
         |       CAST(m11 + ntot*ntot - g - p + m11 AS DOUBLE)
         |         / CAST(ntot*ntot AS DOUBLE) AS rand
         |FROM mm, gg, pp, nn""".stripMargin,


    "q_purity" ->
      s"""WITH $sqlCents8,
         |jj AS (
         |  SELECT CAST(e.label AS BIGINT) AS truth, CAST(a.cluster AS BIGINT) AS pred
         |  FROM embeddings e JOIN a ON a.vec_id = e.vec_id
         |),
         |cells AS (SELECT truth, pred, count(*) AS n FROM jj GROUP BY 1, 2),
         |per AS (SELECT pred, max(n) AS mx, sum(n) AS ns FROM cells GROUP BY pred)
         |SELECT CAST(sum(mx) AS BIGINT) AS correct, CAST(sum(ns) AS BIGINT) AS n,
         |       CAST(sum(mx) AS DOUBLE) / CAST(sum(ns) AS DOUBLE) AS purity
         |FROM per""".stripMargin,


    "q_davies_bouldin" ->
      s"""WITH $sqlCents8,
         |own AS (
         |  SELECT a.vec_id, a.cluster,
         |         min(CASE WHEN d.cid = a.cluster THEN d.dist END) AS d2
         |  FROM d JOIN a USING (vec_id) GROUP BY a.vec_id, a.cluster
         |),
         |s AS (
         |  SELECT cluster,
         |         list_reduce(list_sort(list(sqrt(d2))), (acc, e) -> acc + e) / count(*) AS s
         |  FROM own GROUP BY cluster
         |),
         |cd AS (
         |  SELECT c1.cid AS i, c2.cid AS j,
         |         sqrt(list_sum(list_transform(list_zip(c1.cvec, c2.cvec),
         |                                      p -> (p[1]-p[2])*(p[1]-p[2])))) AS dc
         |  FROM c c1 JOIN c c2 ON c1.cid <> c2.cid
         |),
         |r AS (
         |  SELECT s1.cluster AS i, max((s1.s + s2.s) / cd.dc) AS r
         |  FROM s s1 JOIN cd ON cd.i = s1.cluster JOIN s s2 ON s2.cluster = cd.j
         |  GROUP BY s1.cluster
         |),
         |agg AS (SELECT list_reduce(list(r ORDER BY i), (acc, e) -> acc + e) AS rsum,
         |               CAST(count(*) AS BIGINT) AS kp
         |        FROM r),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM own)
         |SELECT CASE WHEN kp >= 2 THEN rsum / kp END AS db, kp AS k_present, tot.n
         |FROM agg CROSS JOIN tot""".stripMargin,
  )
}
