package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TopKAgg, VectorKernels, VectorOps}

/** Similarity search over an embedding column (array<float|double>):
  * exact brute-force cosine top-k as the correctness baseline, plus
  * two sublinear index paths — random-hyperplane LSH buckets and an
  * IVF coarse quantizer built from our own K-Means centroids.
  *
  * Scale posture (100 TB corpus, small probe set):
  *  - probes always broadcast; the corpus is never shuffled whole;
  *  - exact path: map-side cross join + TopKAgg partial aggregation —
  *    each task ships at most k pairs per probe (see TopKAgg);
  *  - LSH path: corpus bucketed once (an index build); a query joins
  *    only its L buckets;
  *  - IVF path: corpus partitioned by nearest centroid once; a query
  *    scans only nprobe cells.
  *
  * Cross-engine determinism: hyperplane coords derive from md5 hex
  * (exact integer / 2^32 arithmetic — every step representable), dot
  * products are sequential HOF folds, and ranking ties break on the
  * lowest id, so all outputs are bit-exact oracle-checkable.
  */
object Similarity {

  /** Mean embedding per group — class centroids, cluster summaries,
    * per-source prototypes: the "one vector that represents this
    * slice" reduction. One partial-agg shuffle of d+1 doubles per
    * (group, task) via VectorMeanAgg (the grouped form of K-Means'
    * per-partition sums) — never a collect_list of the group's vectors.
    * n counts the NON-NULL vectors (the aggregator's actual divisor —
    * count(*) would disagree with the mean whenever a group carries
    * null embeddings). Output: (keyCol, centroid: array<double>, n). */
  def groupCentroids(df: DataFrame, keyCol: String, vecCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(graft.functions.VectorMeanAgg.vecMean(
          graft.functions.VectorOps.toDouble(col(vecCol))).as("centroid"),
        count(col(vecCol)).as("n"))

  /** The one per-probe ranking tail of every serve. `scored` carries
    * (probe_id, __id: long, __s); each probe keeps its k best through
    * TopKAgg's bounded partial aggregation (at most k pairs per probe
    * leave a task; ties break on the lowest id). Output: (probe_id,
    * vec_id, rank: int, sim), or (…, adist) when `__s` is an ADC
    * distance, where lower ranks first. */
  private def rankTail(scored: DataFrame, k: Int, adc: Boolean): DataFrame = {
    val (score, out) =
      if (adc) (-col("__s"), (-col("p._2")).as("adist"))
      else (col("__s"), col("p._2").as("sim"))
    scored.groupBy("probe_id")
      .agg(TopKAgg.topK(k, col("__id"), score).as("top"))
      .select(col("probe_id"), posexplode(col("top")).as(Seq("r0", "p")))
      .select(col("probe_id"), col("p._1").as("vec_id"),
        (col("r0") + 1).cast("int").as("rank"), out)
  }

  /** Exact cosine top-k per probe via bounded partial aggregation.
    * probes must be small (broadcast); self-matches are excluded.
    * Runs rankTail. Output: (probe_id, vec_id, rank, sim). */
  def topKCosine(corpus: DataFrame, idCol: String, vecCol: String,
                 probes: DataFrame, probeIdCol: String, probeVecCol: String,
                 k: Int): DataFrame = {
    TopKAgg.requireLongCastableId(corpus, idCol, "Similarity.topKCosine")
    TopKAgg.requireLongCastableId(probes, probeIdCol, "Similarity.topKCosine")
    rankTail(corpus
      .select(col(idCol).cast("long").as("__id"), VectorOps.toDouble(col(vecCol)).as("__v"))
      .withColumn("__n", VectorOps.norm2(col("__v")))
      .crossJoin(broadcast(probes.select(
        col(probeIdCol).cast("long").as("probe_id"),
        VectorOps.toDouble(col(probeVecCol)).as("__pv"))
        .withColumn("__pn", VectorOps.norm2(col("__pv")))))
      .filter(col("__id") =!= col("probe_id"))
      .select(col("probe_id"), col("__id"),
        VectorOps.cosineWithNorms(col("__v"), col("__pv"), col("__n"), col("__pn"))
          .as("__s")), k, adc = false)
  }

  // ── Random-hyperplane LSH ────────────────────────────────────────

  /** Deterministic pseudo-random hyperplane coordinate in [-1, 1):
    * first 8 md5 hex chars of "table:bit:dim" as a uint32, scaled.
    * Every step is exact in double, so DuckDB reproduces it bitwise. */
  def planeCoord(table: Int, bit: Int, dim: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$table:$bit:$dim".getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0 * 2.0 - 1.0
  }

  /** L×b hyperplanes for d-dim vectors. Driver-computed (L·b·d doubles
    * — tiny) and embedded as plan literals. */
  def hyperplanes(tables: Int, bits: Int, d: Int): Array[Array[Array[Double]]] =
    Array.tabulate(tables, bits, d)((l, i, j) => planeCoord(l + 1, i + 1, j + 1))

  /** Signature bucket of one table: b sign bits of dot(x, h_i) as a
    * '0'/'1' string, bit order ascending. */
  private def bucketCol(vec: Column, planes: Array[Array[Double]]): Column =
    concat(planes.toIndexedSeq.map { h =>
      when(VectorOps.dot(vec, typedlit(h.toSeq)) >= 0.0, lit("1")).otherwise(lit("0"))
    }: _*)

  /** (id, table, bucket) index table: L rows per corpus vector. */
  def lshBuckets(df: DataFrame, idCol: String, vecCol: String,
                 tables: Int, bits: Int, d: Int): DataFrame = {
    TopKAgg.requireLongCastableId(df, idCol, "Similarity.lshBuckets")
    val planes = hyperplanes(tables, bits, d)
    val v = VectorOps.toDouble(col(vecCol))
    df.select(col(idCol).cast("long").as(idCol),
      explode(array((0 until tables).map { l =>
        struct(lit(l + 1).cast("int").as("tbl"), bucketCol(v, planes(l)).as("bucket"))
      }: _*)).as("tb"))
      .select(col(idCol), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
  }

  /** ANN top-k: candidates = corpus vectors sharing ANY table-bucket
    * with the probe (union over L tables, deduplicated), then exact
    * cosine + rankTail among candidates. Probes broadcast. */
  def annTopK(corpus: DataFrame, idCol: String, vecCol: String,
              probes: DataFrame, probeIdCol: String, probeVecCol: String,
              k: Int, tables: Int, bits: Int, d: Int): DataFrame = {
    val cb = lshBuckets(corpus, idCol, vecCol, tables, bits, d)
    val pb = lshBuckets(probes, probeIdCol, probeVecCol, tables, bits, d)
      .withColumnRenamed(probeIdCol, "probe_id")
    val cands = cb.join(broadcast(pb), Seq("tbl", "bucket"))
      .filter(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol)).distinct()
    rankTail(cands
      .join(corpus.select(col(idCol), VectorOps.toDouble(col(vecCol)).as("__v"))
        .withColumn("__n", VectorOps.norm2(col("__v"))), idCol)
      .join(broadcast(probes.select(col(probeIdCol).cast("long").as("probe_id"),
        VectorOps.toDouble(col(probeVecCol)).as("__pv"))
        .withColumn("__pn", VectorOps.norm2(col("__pv")))), "probe_id")
      .select(col("probe_id"), col(idCol).cast("long").as("__id"),
        VectorOps.cosineWithNorms(col("__v"), col("__pv"), col("__n"), col("__pn"))
          .as("__s")), k, adc = false)
  }

  // ── IVF (inverted file) via K-Means coarse quantizer ─────────────

  /** Driver-side nprobe nearest cells for a LOCAL probe vector —
    * exact same ranking as the probeCells plan (sqDist asc, cid asc). */
  def nearestCells(v: Array[Double], cents: KMeans.Centroids, nprobe: Int): Seq[Int] =
    cents.sortBy(_._1)
      .map { case (cid, c) => (KMeans.euclideanLocal(v, c), cid) }
      .sortBy(identity).take(nprobe).map(_._2).toSeq

  // ── Persisted-index freshness contract (VERDICT r11 item 5) ──────
  //
  // A served index is only as good as its provenance: querying with a
  // DIFFERENT centroid set than the one the index was assigned under
  // silently probes the wrong cells (every result plausible, none
  // correct), and a half-finished append serves a partial corpus.
  // Every index directory therefore carries an Artifacts meta
  // (`_graft_index_meta/`: format version, row count, tombstone count,
  // quantizer fingerprint, and the quantizer itself) —
  // ivfTopKIndexed refuses a quantizer-mismatched index and a
  // row-count-drifted one, and appendIvfIndex assigns new batches
  // with the STORED quantizer, so the index can never drift from its
  // build.

  private val IvfMetaVersion = 2

  /** Decoded IVF (float) index meta; v1 (no deletes) reads as
    * deleted = 0 — the tolerant-read convention (ADVICE r16). */
  private[operators] final case class IvfMeta(version: Int, rows: Long,
                                              deleted: Long, fingerprint: String,
                                              cents: KMeans.Centroids) {
    def live: Long = rows - deleted
  }

  /** The cell-partitioned writer every index write goes through: one
    * shuffle keyed on cell → one file per cell (guide §6 small-files —
    * the r18 layout change), now with the PRODUCTION file-size cap
    * wired (r19, VERDICT r18 item 5): `maxRecordsPerFile` splits a hot
    * cell into bounded files instead of one giant file per write.
    * Env-overridable (`SPARK_GRAFT_MAX_RECORDS_PER_FILE`), default OFF
    * at bench scale — the 8-cell gate indexes want exactly one file
    * per cell, and the driver's bench stays comparable; a production
    * deploy sets it once (e.g. 4-16M rows ≈ the 128-512 MiB file
    * guide §6 recommends for PQ codes). */
  private def cellPartitionedWriter(df: DataFrame)
      : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] = {
    val w = df.repartition(col("cell")).write
    maxRecordsPerFile(sys.env.get(MaxRecordsPerFileEnv))
      .fold(w)(cap => w.option("maxRecordsPerFile", cap))
  }

  private val MaxRecordsPerFileEnv = "SPARK_GRAFT_MAX_RECORDS_PER_FILE"

  /** The file-size cap from the raw env value: unset or ≤ 0 means off;
    * anything that is not a whole number is refused by name. */
  private[graft] def maxRecordsPerFile(raw: Option[String]): Option[Long] =
    raw.map { v =>
      val n = v.trim.toLongOption
      require(n.isDefined,
        s"$MaxRecordsPerFileEnv must be a whole number of records (≤ 0 = off), got '$v'")
      n.get
    }.filter(_ > 0L)

  /** Order- and formatting-independent digest of a centroid set: md5
    * over (cid, IEEE-754 bits) in cid order — exact doubles, no
    * string formatting. */
  private[operators] def centsFingerprint(cents: KMeans.Centroids): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(8)
    cents.sortBy(_._1).foreach { case (cid, v) =>
      buf.clear(); buf.putInt(cid); buf.putInt(v.length)
      md.update(buf.array(), 0, 8)
      v.foreach { x =>
        buf.clear(); buf.putLong(java.lang.Double.doubleToLongBits(x))
        md.update(buf.array(), 0, 8)
      }
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Writes `meta` at the current format version. */
  private def writeIvfMeta(spark: SparkSession, path: String,
                           meta: IvfMeta): Unit =
    Artifacts.writeMeta(spark, s"$path/_graft_index_meta",
      (IvfMetaVersion, meta.rows, meta.deleted, meta.fingerprint,
        Artifacts.encodeCents(meta.cents)),
      "version", "rows", "deleted", "fingerprint", "cents")

  private def readIvfMeta(spark: SparkSession, path: String): IvfMeta = {
    val m = Artifacts.readMeta(spark, s"$path/_graft_index_meta",
      "IVF index", 1 to IvfMetaVersion)
    IvfMeta(m.version, m.get[Long]("rows"), m.since(2, "deleted", 0L),
      m.get[String]("fingerprint"), Artifacts.decodeCents(m, "cents"))
  }

  /** Reserved column-name guard for filterable index metadata: the
    * index's own columns must never be shadowed by a metadata column,
    * or the serve arithmetic would silently read user data. */
  private def requireMetaColNames(metaCols: Seq[String], reserved: Set[String],
                                  where: String): Unit = {
    val clash = metaCols.filter(reserved)
    require(clash.isEmpty,
      s"$where: metadata column(s) ${clash.mkString(", ")} collide with the " +
        s"index's own columns (${reserved.toSeq.sorted.mkString(", ")}) — " +
        "rename them in the corpus projection")
    require(metaCols.distinct.length == metaCols.length,
      s"$where: duplicate metadata column names in ${metaCols.mkString(", ")}")
  }

  /** The filterable metadata columns a persisted index carries —
    * everything in its parquet schema beyond the index's own columns.
    * Appends introspect this so a batch can never silently write a
    * narrower schema than the index serves filters against. */
  private def indexExtraCols(indexed: DataFrame, reserved: Set[String]): Seq[String] =
    indexed.schema.fieldNames.toSeq.filterNot(reserved)

  private def requireBatchCarriesMeta(batch: DataFrame, extra: Seq[String],
                                      path: String, where: String): Unit = {
    val missing = extra.filterNot(batch.columns.contains)
    require(missing.isEmpty,
      s"$where: the index at $path carries filterable metadata column(s) " +
        s"${extra.mkString(", ")} but the batch lacks ${missing.mkString(", ")} " +
        "— appending a narrower schema would make filtered serves silently " +
        "drop (null-filter) every appended row; project the columns into " +
        "the batch")
  }

  /** Persist the IVF index: corpus assigned to its nearest centroid
    * once, written PARTITIONED BY cell — the production form of the
    * "index build". At 100 TB each cell is a parquet partition
    * directory, so a query touching nprobe cells reads nprobe/k of
    * the corpus from disk (static partition pruning — see
    * ivfTopKIndexed), not a full scan. Norms are precomputed into the
    * index so queries never re-fold them. Writes the freshness meta
    * (row count + quantizer) after the data.
    *
    * `metaCols` (round 18): extra corpus columns carried into the
    * index rows as FILTERABLE METADATA (source, license, date, label)
    * — what lets ivfTopKIndexed push a predicate INSIDE the pruned
    * cell scan instead of post-filtering a top-k (recall loss) or
    * falling back to the exact scan. */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    cents: KMeans.Centroids, path: String,
                    metaCols: Seq[String] = Nil): Unit = {
    TopKAgg.requireLongCastableId(corpus, idCol, "Similarity.buildIvfIndex")
    requireMetaColNames(metaCols, Set("id", "v", "n", "cell"),
      "Similarity.buildIvfIndex")
    // static overwrite semantics FORCED per-write (ADVICE r13):
    // under a session-level partitionOverwriteMode=dynamic, a
    // rebuild would replace only the cells present in the NEW
    // assignment and leave stale foreign-quantizer cells behind a
    // fresh meta — the exact drift the fingerprint gate exists to
    // refuse, made invisible because the meta is written from a
    // read-back over the mixed directory.
    // cellPartitionedWriter: one file per cell per write + the
    // production maxRecordsPerFile cap (guide §6)
    cellPartitionedWriter(KMeans.assign(
      corpus.select(col(idCol).cast("long").as("id") +:
        VectorOps.toDouble(col(vecCol)).as("v") +: metaCols.map(col): _*),
      "v", cents, outCol = "cell")
      .withColumn("n", VectorOps.norm2(col("v"))))
      .option("partitionOverwriteMode", "static")
      .partitionBy("cell").mode("overwrite").parquet(path)
    val spark = corpus.sparkSession
    // stale tombstones from a previous index at this root must not
    // mask the fresh build's rows
    Artifacts.delete(spark, Artifacts.rootTombDir(path))
    writeIvfMeta(spark, path, IvfMeta(IvfMetaVersion,
      Artifacts.scan(spark, path).rows, 0L, centsFingerprint(cents), cents))
    Artifacts.refreshIndexPath(spark, path)
  }

  /** Tombstone-delete ids from a persisted (float) IVF index — the
    * deleteFromIvfPqIndex contract over the root-layout float table
    * (Artifacts.deleteIds): serve-side anti-join, physical drop at the
    * next compact, idempotent, self-healing. */
  def deleteFromIvfIndex(spark: SparkSession, ids: DataFrame,
                         idCol: String, path: String): Unit = {
    TopKAgg.requireLongCastableId(ids, idCol, "Similarity.deleteFromIvfIndex")
    val meta = readIvfMeta(spark, path)
    Artifacts.deleteIds(spark, ids.select(col(idCol).cast("long").as("id")),
      path, Artifacts.rootTombDir(path), meta.deleted, path,
      "Similarity.deleteFromIvfIndex") { deleted =>
      writeIvfMeta(spark, path, meta.copy(deleted = deleted))
      Artifacts.refreshIndexPath(spark, path)
    }
  }

  /** Append id audit (review r14; default ON since r15 — VERDICT r14
    * item 3): a RETRIED batch that had actually committed re-appends
    * cleanly — data holds each row twice, the meta counts both, every
    * fingerprint matches — and the index then silently serves
    * duplicate candidates (a vec_id can occupy two top-k slots,
    * evicting a genuine neighbor). That footgun is armed by exactly
    * the jobs most likely to retry (ingest), so the audit defaults on:
    * one column-pruned scan of the index's id column per append (a
    * batch-sized semi-join probe, not a full-width read). Pipelines
    * that already dedup upstream (dropSeenExact) and own their retry
    * discipline opt out with `requireNewIds = false`.
    *
    * `batchIds` must be ONE PINNED instantiation of the batch's id
    * column (review r15): auditing one evaluation of a
    * nondeterministic batch plan (sample(), an unordered limit, a
    * directory re-read racing an upstream writer) and then writing
    * another would let already-indexed ids through the exact check
    * built to refuse them — the append entries localCheckpoint the
    * batch once and feed the same relation to the audit, the write,
    * and the meta count. Shared with Dedup.appendMinhashIndex, so a
    * hardening here reaches every appendable index. */
  private[operators] def requireIdsNotIndexed(batchIds: DataFrame, indexed: DataFrame,
                                              dataPath: String, where: String,
                                              consequence: String): Unit = {
    val dups = indexed.select(col("id"))
      .join(batchIds.select(col("id")).distinct(), "id")
      .limit(1).count()
    require(dups == 0L,
      s"$where: the batch carries ids already present in the index at " +
        s"$dataPath — appending would silently $consequence past every " +
        "freshness gate (a retried-but-committed batch?); dedup upstream " +
        "or rebuild")
  }

  /** Incremental index maintenance: assign a new batch with the
    * index's own STORED quantizer (the caller cannot drift the cell
    * geometry by passing fresher centroids — that requires a rebuild)
    * and append it to the cell partitions; the meta row count is
    * refreshed after the append, so a crash between the two steps
    * leaves a DETECTABLY stale index (ivfTopKIndexed's row check),
    * never a silently short one. The duplicate-id audit defaults ON
    * (requireIdsNotIndexed — a retried batch double-appends cleanly
    * otherwise); pipelines that dedup upstream (dropSeenExact) opt
    * out with requireNewIds = false. */
  def appendIvfIndex(spark: SparkSession, batch: DataFrame,
                     idCol: String, vecCol: String, path: String,
                     requireNewIds: Boolean = true): Unit = {
    TopKAgg.requireLongCastableId(batch, idCol, "Similarity.appendIvfIndex")
    val meta = readIvfMeta(spark, path)
    // filterable metadata columns are part of the index's schema
    // contract: a batch missing them would append rows every filtered
    // serve silently null-filters away
    // one listing of the index serves the schema check and the audit
    val indexed = Artifacts.scan(spark, path).df
    val extra = indexExtraCols(indexed, Set("id", "v", "n", "cell"))
    requireBatchCarriesMeta(batch, extra, path, "Similarity.appendIvfIndex")
    // pin ONE instantiation of the batch: the audit, the write, and
    // the meta count must see the same rows (see requireIdsNotIndexed)
    val src = batch.select(col(idCol).cast("long").as("id") +:
      VectorOps.toDouble(col(vecCol)).as("v") +: extra.map(col): _*)
      .localCheckpoint()
    // explicit block release after the meta write (ADVICE r15):
    // Dataset.unpersist cannot free checkpoint blocks, and waiting on
    // the ContextCleaner leaks one batch of storage per append in a
    // long-lived ingest driver
    try {
      // tombstoned ids refuse FIRST — see appendIvfPqIndexCore
      Artifacts.requireNotTombstoned(spark, src, Artifacts.rootTombDir(path),
        path, "Similarity.appendIvfIndex")
      if (requireNewIds) requireIdsNotIndexed(src, indexed, path,
        "Similarity.appendIvfIndex", "serve duplicate rows")
      // meta rows = prev + batch (O(batch), not a full-index recount —
      // review r12); a crash between data and meta leaves actual > meta,
      // which ivfTopKIndexed's row check refuses
      val assigned = KMeans.assign(src, "v", cents = meta.cents, outCol = "cell")
        .withColumn("n", VectorOps.norm2(col("v")))
      // one file per cell per append + production file cap (see build)
      cellPartitionedWriter(assigned)
        .partitionBy("cell").mode("append").parquet(path)
      writeIvfMeta(spark, path, meta.copy(rows = meta.rows + src.count()))
      Artifacts.refreshIndexPath(spark, path)
    } finally {
      org.apache.spark.sql.graftglue.ColumnGlue.unpersistLocalCheckpoint(src)
    }
  }

  /** IVF top-k against a PERSISTED index: probe cells are computed
    * driver-side from the (local, tiny) centroid set, then pushed as a
    * literal `cell IN (...)` predicate — Parquet partition pruning
    * skips every other cell's files entirely. Both IVF serves run
    * ivfCosineServe, so results match the in-memory path bit-for-bit.
    *
    * Freshness (VERDICT r11 item 5): refuses to serve when (a) the
    * passed quantizer's fingerprint differs from the one the index
    * was built/appended under — wrong-cell probes would return
    * plausible garbage — or (b) the index's actual row count drifted
    * from the meta (partial append, manual file surgery). The row
    * check sums parquet footers on the driver — metadata-only I/O, no
    * Spark job; skip it on hot serving paths via verifyRows=false once
    * an external writer discipline guarantees it.
    *
    * `filter` (round 18 — filtered ANN): an optional predicate over
    * the index's metadata columns (buildIvfIndex's metaCols), applied
    * INSIDE the pruned cell scan BEFORE scoring — Catalyst pushes it
    * to the parquet reader alongside the partition pruning, so a
    * selective filter cuts I/O instead of adding it, the top-k ranks
    * only qualifying vectors (full k results whenever ≥k matches
    * exist — no post-filter recall loss), and it composes with the
    * tombstone mask. */
  def ivfTopKIndexed(spark: SparkSession, indexPath: String,
                     probes: DataFrame, probeIdCol: String, probeVecCol: String,
                     cents: KMeans.Centroids, nprobe: Int, k: Int,
                     verifyRows: Boolean = true,
                     maxProbes: Int = 10000,
                     filter: Option[Column] = None): DataFrame = {
    TopKAgg.requireLongCastableId(probes, probeIdCol, "Similarity.ivfTopKIndexed")
    val meta = readIvfMeta(spark, indexPath)
    require(meta.fingerprint == centsFingerprint(cents),
      s"stale IVF index at $indexPath: the quantizer passed to the query does " +
        "not match the one the index was built/appended with — probing the " +
        "wrong cells returns silently wrong neighbors; rebuild the index or " +
        "query with its own centroids")
    val data = Artifacts.scan(spark, indexPath)
    if (verifyRows) Artifacts.requireCounts(spark, data, meta.rows,
      Artifacts.rootTombDir(indexPath), meta.deleted, indexPath,
      "Similarity.ivfTopKIndexed")
    val pinned = boundedProbes(probes, probeIdCol, probeVecCol, identity, maxProbes,
      (if (cents.nonEmpty) cents.head._2.length else 0) * 8L,
      "Similarity.ivfTopKIndexed")
    val (pc, cells) = probeCellsDF(spark, pinned.collect(), cents, nprobe,
      residual = false)
    val idxP = data.df
      .filter(col("cell").isin(cells: _*)) // static partition pruning
    // metadata predicate INSIDE the pruned scan, before any scoring:
    // Catalyst pushes it into the parquet reader next to the partition
    // filter, so the cosine work and the top-k see only qualifying
    // rows — full-k results, no post-filter recall loss
    ivfCosineServe(Artifacts.maskTombstones(spark, filter.fold(idxP)(idxP.filter),
      Artifacts.rootTombDir(indexPath)), pc, pinned, k)
  }

  /** IVF top-k: the corpus is assigned to its nearest centroid inside
    * the query (the index build — ivfTopKIndexed serves the persisted
    * form); each probe scans only its nprobe nearest cells, ranked in
    * SQL by (sqDist, cid). Runs ivfCosineServe. */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
              probes: DataFrame, probeIdCol: String, probeVecCol: String,
              cents: KMeans.Centroids, nprobe: Int, k: Int,
              maxProbes: Int = 10000): DataFrame = {
    TopKAgg.requireLongCastableId(corpus, idCol, "Similarity.ivfTopK")
    TopKAgg.requireLongCastableId(probes, probeIdCol, "Similarity.ivfTopK")
    val pinned = boundedProbes(probes, probeIdCol, probeVecCol, identity, maxProbes,
      (if (cents.nonEmpty) cents.head._2.length else 0) * 8L,
      "Similarity.ivfTopK")
    val pc = pinned
      .select(col("probe_id"),
        explode(slice(array_sort(transform(typedlit(cents.sortBy(_._1).map { case (cid, v) => (cid, v.toSeq) }.toSeq),
          c => struct(VectorOps.sqDist(col("__pv"), c.getField("_2")).as("d"),
            c.getField("_1").as("cid")))), 1, nprobe)).as("pc"))
      .select(col("probe_id"), col("pc.cid").as("cell"))
    ivfCosineServe(KMeans.assign(corpus.select(col(idCol).cast("long").as("id"),
      VectorOps.toDouble(col(vecCol)).as("v")), "v", cents, outCol = "cell")
      .withColumn("n", VectorOps.norm2(col("v"))), pc, pinned, k)
  }

  /** The cosine body of both IVF serves: candidates (id, cell, v, n)
    * join the (probe_id, cell) pairs `pc`, then ONE d-vector per
    * probe (`pinned`, see boundedProbes) on probe_id — two broadcast
    * relations, so a probe's vector ships once, not nprobe times —
    * and rankTail keeps the k best by cosine. */
  private def ivfCosineServe(cand: DataFrame, pc: DataFrame, pinned: DataFrame,
                             k: Int): DataFrame = {
    val pv = pinned.withColumn("__pn", VectorOps.norm2(col("__pv")))
    rankTail(cand.join(broadcast(pc), "cell")
      .filter(col("id") =!= col("probe_id"))
      .join(broadcast(pv), "probe_id")
      .select(col("probe_id"), col("id").as("__id"),
        VectorOps.cosineWithNorms(col("v"), col("__pv"), col("n"), col("__pn"))
          .as("__s")), k, adc = false)
  }

  // ── Product quantization (PQ) ────────────────────────────────────

  /** PQ model: m sub-codebooks of (up to) k centroids over dsub = d/m
    * dims each; codeword ids are 1-based (KMeans renumbering). The
    * standard compression for billion-vector corpora: d float32s
    * become m small ints — 32× at d=64, m=8 — and queries run on the
    * codes (pqTopK), touching floats only for an optional re-rank.
    *
    * `residualTo`: None = codebooks quantize RAW vectors; Some(fp) =
    * codebooks quantize coarse-cell RESIDUALS x − c(x) (IVF-ADC
    * proper — Jégou, Douze & Schmid, TPAMI 2011: the 8-byte budget
    * then covers within-cell variance instead of the whole-space
    * spread, the classic recall jump at identical serve cost; the 1M
    * stress showed raw-mode quantization loss IS the recall ceiling,
    * VERDICT r15 item 1). The value is the COARSE QUANTIZER'S
    * fingerprint (centsFingerprint) — residuals against one centroid
    * set are garbage under another, so the mode carries its own
    * provenance: build/serve refuse a quantizer whose fingerprint
    * differs, pqFingerprint covers the field (a raw and a residual
    * model can never alias), and savePQ persists it. Residual mode is
    * IVF-only by construction (flat pqTopK has no coarse cell to
    * subtract — those entries refuse a residual model loudly). */
  final case class PQModel(d: Int, m: Int, k: Int,
                           codebooks: IndexedSeq[KMeans.Centroids],
                           residualTo: Option[String] = None) {
    val dsub: Int = d / m
    def residual: Boolean = residualTo.isDefined
  }

  /** Loud shared refusal for the flat-PQ entries (no coarse cell to
    * subtract) and any path where residual codes would be silently
    * mis-decoded. */
  private def requireRawModel(model: PQModel, where: String): Unit =
    require(!model.residual,
      s"$where: this entry has no coarse quantizer, but the PQ codebook is " +
        "residual-mode (trained on x − c(x)) — decoding raw vectors under " +
        "it is silently wrong; use the ivfPq* entries or train a raw codebook")

  /** Residual-mode provenance gate: the codebook's stored coarse-
    * quantizer fingerprint must match the quantizer actually used for
    * cell assignment — residuals against a drifted centroid set are
    * silently-plausible garbage at ADC time. No-op for raw models. */
  private def requireResidualMatch(model: PQModel, cents: KMeans.Centroids,
                                   where: String): Unit =
    model.residualTo.foreach { rt =>
      require(rt == centsFingerprint(cents),
        s"$where: residual PQ codebook was trained against a different " +
          "coarse quantizer than the one passed — residuals are relative to " +
          "the training quantizer's cells; rebuild the codebook or pass its " +
          "paired centroids")
    }

  /** vec − centroid(cell) as a native column (CellResidualExpr); the
    * HOF twin below is spec-pinned bit-equal on valid input. */
  private def cellResidualCol(v: Column, cell: Column,
                              cents: KMeans.Centroids): Column = {
    val (cids, flat, d) = KMeans.flatCents(cents)
    VectorKernels.cellResidualCol(v, cell, cids, flat, d)
  }

  /** The HOF twin of cellResidualCol (spec-only): zip_with over a
    * cid-keyed map literal. Diverges from the kernel only on
    * MALFORMED input (zip_with pads a length mismatch with nulls
    * where the kernel nulls the row — the kernels' documented gentler
    * contract), pinned in PqEncodeSpec. */
  private[graft] def cellResidualHof(v: Column, cell: Column,
                                     cents: KMeans.Centroids): Column = {
    val m = typedlit(cents.map { case (cid, w) => cid -> w.toSeq }.toMap)
    zip_with(v, element_at(m, cell), (a, b) => a - b)
  }

  /** PQ codebook artifact format version; bumped on any schema change
    * so a loader refuses an artifact it does not understand.
    * v2 (r16): + residual_to — the coarse-quantizer fingerprint for
    * residual-mode codebooks (NULL for raw mode); a v1 loader must
    * not serve residual codes as raw, so the version gates it. The
    * asymmetry matters (ADVICE r16): THIS loader still accepts v1 —
    * a v1 artifact is safely interpretable as residual_to = NULL
    * (raw mode is all v1 could express), so refusing it would strand
    * every pre-v2 codebook for no safety gain; only unknown/newer
    * versions refuse. */
  val PQFormatVersion = 2

  /** Persists PQ codebooks as a versioned parquet artifact — "train
    * once, encode everywhere": codes written by a DIFFERENT codebook
    * are silently garbage at ADC time, so the codebook must freeze
    * with the index it encodes. m·k rows (subspace, codeword id,
    * codeword) land under `codebooks/`, then the Artifacts meta
    * (version, d, m, k, n_rows, residual_to) under `meta/`. */
  def savePQ(spark: SparkSession, path: String, model: PQModel): Unit = {
    import spark.implicits._
    model.codebooks.zipWithIndex
      .flatMap { case (book, j) =>
        book.map { case (cid, cw) => (j, cid, cw.toSeq) }
      }
      .toDF("j", "cid", "cw")
      .repartition(1).write.mode("overwrite").parquet(s"$path/codebooks")
    // n_rows = what actually LANDED (read-back count, the commit-row
    // convention): a Lloyd-trained book can legitimately hold < k
    // codewords (vanished cluster), so the load-time drift check must
    // compare against the written count, not m·k
    val n = Artifacts.scan(spark, s"$path/codebooks").rows
    Artifacts.writeMeta(spark, s"$path/meta", (PQFormatVersion, model.d,
        model.m, model.k, n, model.residualTo.orNull),
      "version", "d", "m", "k", "n_rows", "residual_to")
  }

  /** Loads a `savePQ` artifact, refusing loudly on: the Artifacts
    * meta refusals, inconsistent geometry (d not divisible
    * by m, k out of byte range), a codebook row count that disagrees
    * with the meta's written count, per-subspace codeword ids that
    * are not contiguous 1..size (the code column stores these ids and
    * the ADC table indexes them positionally — a renumbered or gappy
    * artifact decodes wrong; size may be < k for a Lloyd-trained book
    * with a vanished cluster), ragged codeword widths, or non-finite
    * values. */
  def loadPQ(spark: SparkSession, path: String): PQModel = {
    // the meta decodes on the driver; only the codebook collect runs
    // a job
    val mr = Artifacts.readMeta(spark, s"$path/meta", "PQ codebook",
      1 to PQFormatVersion)
    val rows = Artifacts.scan(spark, s"$path/codebooks").df.collect()
    val (d, m, k) = (mr.get[Int]("d"), mr.get[Int]("m"), mr.get[Int]("k"))
    require(m >= 1 && d >= m && d % m == 0,
      s"PQ artifact at $path has inconsistent geometry d=$d m=$m")
    require(k >= 1 && k <= 256, s"PQ artifact at $path has k=$k")
    val dsub = d / m
    val nRows = mr.get[Long]("n_rows")
    require(rows.length.toLong == nRows,
      s"PQ codebooks at $path have ${rows.length} rows, meta says $nRows — " +
        "partial or duplicated write, refusing to serve")
    val byJ = rows.map(r => (r.getAs[Int]("j"), r.getAs[Int]("cid"),
        r.getAs[scala.collection.Seq[Double]]("cw").toArray))
      .groupBy(_._1)
    require(byJ.keySet == (0 until m).toSet,
      s"PQ codebooks at $path cover subspaces ${byJ.keySet.toSeq.sorted}, expected 0..${m - 1}")
    val books = (0 until m).map { j =>
      val book = byJ(j).sortBy(_._2).map { case (_, cid, cw) => (cid, cw) }
      // contiguity 1..size (≤ k), not 1..k exactly: a Lloyd-trained
      // book may hold fewer codewords (vanished cluster); codes index
      // the cid-ordered ADC table positionally, so GAPS are the
      // corruption that mis-decodes, and size ≤ k is the geometry cap
      require(book.length <= k
          && book.map(_._1).toSeq == (1 to book.length).toSeq,
        s"PQ codebooks at $path, subspace $j: codeword ids " +
          s"${book.map(_._1).mkString(",")} are not contiguous 1..size≤$k")
      book.foreach { case (cid, cw) =>
        require(cw.length == dsub,
          s"PQ codebooks at $path, subspace $j codeword $cid: width ${cw.length} != $dsub")
        require(cw.forall(v => !v.isNaN && !v.isInfinite),
          s"non-finite codeword in PQ artifact at $path (subspace $j, cid $cid)")
      }
      book: KMeans.Centroids
    }
    // v1 predates the residual_to column; raw mode is all it could
    // express, so the absent column reads as None (ADVICE r16)
    PQModel(d, m, k, books, Option(mr.since[String](2, "residual_to", null)))
  }

  /** Train PQ codebooks: the d dims split into m contiguous
    * subspaces, each clustered independently by our own K-Means
    * (deterministic FirstK init ⇒ reproducible codebooks; maxIter=0
    * degenerates to "codewords = first k rows' subvectors", the
    * oracle-checkable configuration). Cost is m fits over n×dsub
    * slices riding ONE cached scan of the input; at 100 TB you train
    * on a sample (pass a sampled df — Sampling.deterministicSample —
    * exactly as IVF trains its coarse quantizer) and encode the full
    * corpus with the result. */
  def trainPQ(corpus: DataFrame, idCol: String, vecCol: String, d: Int,
              m: Int = 8, k: Int = 16, maxIter: Int = 10): PQModel =
    trainPQCore(corpus
      .select(col(idCol), VectorOps.toDouble(col(vecCol)).as("__v")),
      idCol, d, m, k, maxIter, residualTo = None)

  /** Residual-mode PQ training (IVF-ADC proper — VERDICT r15 item 1):
    * each training vector is replaced by its residual against its
    * nearest COARSE cell, x − c(x), before the per-subspace fits, so
    * the codebooks spend their budget on within-cell variance — the
    * recall lever the 1M-vector stress showed raw mode leaves on the
    * table. The returned model carries the quantizer's fingerprint
    * (residualTo); every build/serve path refuses a different
    * quantizer. Cost = trainPQ + one assignment pass over the (same,
    * sample-sized) training input — assignment and subtraction are
    * both native rowwise kernels riding the one cached scan. */
  def trainPQResidual(corpus: DataFrame, idCol: String, vecCol: String,
                      d: Int, cents: KMeans.Centroids,
                      m: Int = 8, k: Int = 16, maxIter: Int = 10): PQModel = {
    val assigned = KMeans.assign(
      corpus.select(col(idCol), VectorOps.toDouble(col(vecCol)).as("__raw")),
      "__raw", cents, outCol = "__cell")
    trainPQCore(assigned
      .select(col(idCol),
        cellResidualCol(col("__raw"), col("__cell"), cents).as("__v")),
      idCol, d, m, k, maxIter,
      residualTo = Some(centsFingerprint(cents)))
  }

  /** Shared train core: `proj` must be (idCol, __v: array<double>) —
    * raw vectors or residuals, the fits cannot tell. */
  private def trainPQCore(proj0: DataFrame, idCol: String, d: Int, m: Int,
                          k: Int, maxIter: Int,
                          residualTo: Option[String]): PQModel = {
    require(m >= 1 && d % m == 0, s"d=$d must divide into m=$m subspaces")
    require(k >= 1 && k <= 256, s"k=$k must fit an unsigned byte, got $k")
    val dsub = d / m
    // ONE source scan for all m sub-fits (VERDICT r13 item 6): the
    // narrow (id, vec) projection persists once and every subspace's
    // Lloyd passes slice it rowwise from memory — without this, m
    // fits × maxIter steps each re-read the corpus from storage
    // (m·maxIter full scans at production settings). The training
    // input is the caller's SAMPLE (see above), so the cached
    // relation is sample-sized, not corpus-sized. Results are
    // bit-identical: caching changes where bytes come from, not what
    // any fit computes.
    val proj = proj0.persist()
    try {
      // materialize the cache with ONE pass before the fits fork, so
      // concurrent first-touches don't each race the source scan
      proj.count()
      // The m sub-fits are INDEPENDENT Lloyd loops over disjoint
      // slices of the cached sample — each is a chain of tiny jobs
      // (init collect + maxIter step collects) whose wall-clock is
      // dominated by per-job scheduling gaps, not compute. Run them
      // from a small thread pool so one fit's gaps back-fill with
      // another's tasks (optimization guide §2.6, "overlap independent
      // jobs"; r18). Results are UNCHANGED: every fit is a
      // deterministic function of its own slice (FirstK init, fixed
      // iteration count), threads share only the read-only cache, and
      // `books` collects in subspace order. 4 in flight is the guide's
      // "enough to fill the tail" sizing — m jobs are never wider than
      // the executor anyway.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(m, 4))
      val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        val futs = (0 until m).map { j =>
          scala.concurrent.Future {
            val sub = proj.select(col(idCol),
              slice(col("__v"), j * dsub + 1, dsub).as("__sub"))
            KMeans.fit(sub, idCol, "__sub", KMeans.FirstK(k), maxIter).centroids
          }(ec)
        }
        val books = futs.map(f =>
          scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
        PQModel(d, m, k, books, residualTo)
      } finally { pool.shutdown() }
    } finally { proj.unpersist(); () }
  }

  // ── OPQ: optimized product quantization (Ge, He, Ke & Sun,
  // CVPR 2013 — the non-parametric alternating variant) ────────────
  //
  // PQ's subspaces are arbitrary coordinate blocks; when the data's
  // variance is spread across blocks unevenly (or correlated across
  // them), the 8-byte budget is misallocated. OPQ learns an
  // ORTHOGONAL rotation R so that quantizing y = x·R distributes the
  // error optimally, then the ENTIRE existing stack (IVF coarse
  // quantizer, residual encoding, ADC, persisted indexes, reranks)
  // runs verbatim on the rotated space — OPQ composes as a pure
  // preprocessing step, not a parallel serve path. Orthogonality
  // means exact L2/cosine geometry is UNCHANGED (distances are
  // rotation-invariant), so ground truth, recall math, and the exact
  // re-rank all carry over untouched; only quantization quality
  // improves.
  //
  // Alternating minimization (OPQ-NP): fix R → train/encode PQ on
  // x·R; fix codes → the optimal R is the orthogonal Procrustes
  // solution argmin_R ||X·R − Q||_F = U·Vᵀ from the SVD of XᵀQ.
  // Distributed pieces: the rotate is d native dot kernels per row;
  // XᵀQ comes from ONE GramAgg pass over concat(x, q) (the d×d cross
  // block of the 2d×2d Gram's upper triangle — d(2d+1) doubles per
  // task, no new aggregator); the SVD runs driver-side on the d×d
  // cross-moment via PCA.eigSym (SVD(M) from eig(MᵀM), 64³ flops).
  // Everything is deterministic: Jacobi sweeps are fixed-order, the
  // init is I, and sign canonicalization is eigSym's.

  /** The learned rotation + the codebooks trained in rotated space.
    * `rotation` is row-major with the ROW-VECTOR convention:
    * y_j = Σ_i x_i · R[i][j] (apply with rotateVectors). */
  final case class OPQModel(rotation: Array[Array[Double]], pq: PQModel)

  /** y = x·R as a column: d native dot kernels against R's literal
    * columns — rowwise, codegen'd, no shuffle. */
  def rotateCol(v: Column, rotation: Array[Array[Double]]): Column = {
    val d = rotation.length
    rotation.foreach(row => require(row.length == d,
      s"rotation must be square, got a ${row.length}-wide row in d=$d"))
    array((0 until d).map { j =>
      VectorKernels.dotCol(v,
        typedlit((0 until d).map(i => rotation(i)(j)): Seq[Double]))
    }: _*)
  }

  /** Rotate an embedding column in place: (idCol, outCol = x·R).
    * Build inputs AND probes must rotate with the SAME R — mixed
    * spaces are silently wrong, so production freezes R next to the
    * codebook it was trained with (saveOpq / saveOpqIvf below) and
    * the persisted IVF-PQ index meta carries the rotation's
    * fingerprint, so an unrotated (or differently-rotated) serve
    * refuses instead of returning plausible garbage. */
  def rotateVectors(df: DataFrame, idCol: String, vecCol: String,
                    rotation: Array[Array[Double]],
                    outCol: String = "rotated"): DataFrame =
    df.select(col(idCol),
      rotateCol(VectorOps.toDouble(col(vecCol)), rotation).as(outCol))

  /** PQ reconstruction (training-side only): codes → the
    * concatenation of their codewords. Null for null/corrupt codes —
    * the training pass filters those rows out of the cross-moment. */
  private def decodeCol(codes: Column, model: PQModel): Column =
    flatten(transform(codes, (c, j) =>
      element_at(element_at(codebookLit(model), j + lit(1)), c)))

  /** XᵀQ (d×d, uncentered) via ONE GramAgg pass over concat(x, q):
    * the cross block of the 2d-Gram's upper triangle. Rows where
    * either side is null are skipped (GramAgg's null contract). */
  private def crossGram(df: DataFrame, aCol: String, bCol: String,
                        d: Int): Array[Array[Double]] = {
    val agg = org.apache.spark.sql.functions.udaf(new PCA.GramAgg)
    val r = df.select(concat(col(aCol), col(bCol)).as("__xy"))
      .filter(size(col("__xy")) === 2 * d)
      .agg(agg(col("__xy")).as("g")).head().getStruct(0)
    val prods = r.getSeq[Double](1).toArray
    val n = r.getLong(2)
    require(n > 0, "crossGram: no valid rows — every reconstruction was null")
    val dd = 2 * d
    def idx(i: Int, j: Int): Int = i * dd - i * (i - 1) / 2 + (j - i)
    Array.tabulate(d, d)((a, b) => prods(idx(a, d + b)))
  }

  /** Orthogonal Procrustes: R = U·Vᵀ from SVD(M), computed as
    * eig(MᵀM) → V, σ = √λ, U = M·V·Σ⁻¹ (driver-side, d×d). Refuses a
    * rank-deficient cross-moment loudly — a degenerate sample has no
    * unique rotation and silently completing one would make training
    * layout-dependent. */
  private[graft] def procrustes(m: Array[Array[Double]]): Array[Array[Double]] = {
    val d = m.length
    val mtm = Array.tabulate(d, d) { (i, j) =>
      var s = 0.0; var k = 0
      while (k < d) { s += m(k)(i) * m(k)(j); k += 1 }; s
    }
    val (lambda, vRows) = PCA.eigSym(mtm)
    val sigma = lambda.map(l => math.sqrt(math.max(l, 0.0)))
    require(sigma(0) > 0.0 && sigma(d - 1) > 1e-12 * sigma(0),
      "Procrustes: rank-deficient cross-moment (σ_min/σ_max < 1e-12) — " +
        "the sample does not span the space; train on a larger/more " +
        "varied sample")
    // u_k = M·v_k / σ_k ; R[i][j] = Σ_k u_k(i) · v_k(j)
    val u = Array.tabulate(d, d) { (k, i) =>
      var s = 0.0; var t = 0
      while (t < d) { s += m(i)(t) * vRows(k)(t); t += 1 }
      s / sigma(k)
    }
    Array.tabulate(d, d) { (i, j) =>
      var s = 0.0; var k = 0
      while (k < d) { s += u(k)(i) * vRows(k)(j); k += 1 }; s
    }
  }

  /** Train an OPQ rotation + codebooks by alternating minimization —
    * `iters` rounds of (train PQ in the current rotated space →
    * reconstruct → Procrustes-update R), then a final PQ fit under
    * the final R. Like every trainer here, feed a SAMPLE; encode the
    * corpus with the result (rotateVectors → the existing build
    * entries — IVF/residual compose on top unchanged). Cost per
    * round: one trainPQ (m sub-fits on the cached sample), one
    * rowwise encode+decode, one GramAgg pass, one driver-side d×d
    * SVD. */
  def trainOpq(corpus: DataFrame, idCol: String, vecCol: String, d: Int,
               m: Int = 8, k: Int = 16, iters: Int = 3,
               pqMaxIter: Int = 3): OPQModel = {
    require(iters >= 1 && iters <= 20, s"iters must be in [1, 20], got $iters")
    val x = corpus.select(col(idCol),
      VectorOps.toDouble(col(vecCol)).as("__x")).persist()
    try {
      var rot = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
      (1 to iters).foreach { _ =>
        val y = x.withColumn("__y", rotateCol(col("__x"), rot))
        val pq = trainPQ(y, idCol, "__y", d, m, k, pqMaxIter)
        val rec = encodePQ(y, "__y", pq, "__c")
          .withColumn("__q", decodeCol(col("__c"), pq))
          .filter(col("__q").isNotNull)
        rot = procrustes(crossGram(rec, "__x", "__q", d))
      }
      val yF = x.withColumn("__y", rotateCol(col("__x"), rot))
      OPQModel(rot, trainPQ(yF, idCol, "__y", d, m, k, pqMaxIter))
    } finally { x.unpersist(); () }
  }

  /** OPQ trained against the FULL IVF-ADC reconstruction (rotation +
    * coarse quantizer + residual codebooks, all in rotated space) —
    * the production combo. `trainOpq` above optimizes the PLAIN-PQ
    * objective; stacked on residual encoding that objective is
    * misaligned (measured at the 1M anisotropic stress: opq+residual
    * served BELOW residual-only), because the residual stack already
    * removes the cell-mean structure the raw rotation chases. Here
    * each alternation reconstructs x̂ = c(y) + decode(codes(y − c(y)))
    * in rotated space and Procrustes-fits R against THAT — the
    * objective the serve actually pays. Returns the frozen triple;
    * rotate the corpus/probes with `rotation`, then every existing
    * build/serve entry applies verbatim with `cents`/`pq`. */
  final case class OpqIvfModel(rotation: Array[Array[Double]],
                               cents: KMeans.Centroids, pq: PQModel)

  def trainOpqIvf(corpus: DataFrame, idCol: String, vecCol: String, d: Int,
                  kCells: Int, m: Int = 8, k: Int = 16, iters: Int = 3,
                  lloydIter: Int = 5, pqMaxIter: Int = 3): OpqIvfModel = {
    require(iters >= 1 && iters <= 20, s"iters must be in [1, 20], got $iters")
    val x = corpus.select(col(idCol),
      VectorOps.toDouble(col(vecCol)).as("__x")).persist()
    try {
      var rot = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
      def fitSpace(r: Array[Array[Double]]): (DataFrame, KMeans.Centroids, PQModel) = {
        val y = x.withColumn("__y", rotateCol(col("__x"), r))
        val cents = KMeans.fit(y.select(col(idCol), col("__y")),
          idCol, "__y", KMeans.FirstK(kCells), lloydIter).centroids
        val pq = trainPQResidual(y, idCol, "__y", d, cents, m, k, pqMaxIter)
        (y, cents, pq)
      }
      (1 to iters).foreach { _ =>
        val (y, cents, pq) = fitSpace(rot)
        // full-stack reconstruction in rotated space:
        // x̂ = c(y) + decode(encode(y − c(y)))
        val centMap = typedlit(
          cents.map { case (cid, v) => cid -> v.toSeq }.toMap)
        val assigned = KMeans.assign(y, "__y", cents, outCol = "__cell")
          .withColumn("__r", cellResidualCol(col("__y"), col("__cell"), cents))
        val rec = encodePQUnchecked(assigned, "__r", pq, "__c")
          .withColumn("__q",
            zip_with(decodeCol(col("__c"), pq),
              element_at(centMap, col("__cell")), (a, b) => a + b))
          .filter(col("__q").isNotNull)
        rot = procrustes(crossGram(rec, "__x", "__q", d))
      }
      val (_, cents, pq) = fitSpace(rot)
      OpqIvfModel(rot, cents, pq)
    } finally { x.unpersist(); () }
  }

  // ── OPQ artifact persistence (VERDICT r16 item 1) ────────────────
  //
  // A rotation that lives only in driver memory strands its index:
  // codes written over x·R can never be correctly served again once
  // the session ends, and nothing stops a later session from serving
  // them UNROTATED — silently wrong, no error (ADVICE r16). So the
  // rotation freezes exactly like codebooks do: a versioned parquet
  // artifact with a commit-marker meta, an IEEE-bits fingerprint
  // that also lands in every index built over the rotated space, and
  // loud refusals on any drift.

  /** Order-independent digest of a rotation matrix: md5 over (d,
    * row-major IEEE-754 bits) — the provenance that binds an index's
    * stored codes to the rotation that produced their input space. */
  private[graft] def rotationFingerprint(r: Array[Array[Double]]): String = {
    val d = r.length
    r.foreach(row => require(row.length == d,
      s"rotation must be square, got a ${row.length}-wide row in d=$d"))
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(8)
    buf.putInt(d); buf.putInt(d)
    md.update(buf.array(), 0, 8)
    r.foreach(_.foreach { x =>
      buf.clear(); buf.putLong(java.lang.Double.doubleToLongBits(x))
      md.update(buf.array(), 0, 8)
    })
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** OPQ artifact format version; bumped on any schema change so a
    * loader refuses an artifact it does not understand (newer only —
    * the loadPQ v1 lesson). */
  val OpqFormatVersion = 1

  /** Rotation rows land under `$path/rotation` (i, r: the i-th row of
    * R); d rows of d doubles — centroid-sized driver data. */
  private def writeRotation(spark: SparkSession, path: String,
                            rotation: Array[Array[Double]]): Unit = {
    import spark.implicits._
    rotation.zipWithIndex.map { case (row, i) => (i, row.toSeq) }.toSeq
      .toDF("i", "r")
      .repartition(1).write.mode("overwrite").parquet(s"$path/rotation")
  }

  /** Loads and VALIDATES a rotation: square, rows contiguous 0..d−1,
    * finite, fingerprint-matching the meta's record (bit corruption
    * surfaces as itself), and orthogonal to 1e-6 (‖RᵀR−I‖∞) — a
    * non-orthogonal matrix silently breaks the distance-preservation
    * contract every OPQ guarantee rests on, so it refuses loudly. */
  private def readRotation(spark: SparkSession, path: String, d: Int,
                           expectedFp: String): Array[Array[Double]] = {
    val rows = Artifacts.scan(spark, s"$path/rotation").df.collect()
    require(rows.length == d,
      s"OPQ rotation at $path has ${rows.length} rows, expected d=$d")
    val byI = rows.map(r => r.getAs[Int]("i") ->
      r.getAs[scala.collection.Seq[Double]]("r").toArray).toMap
    require(byI.keySet == (0 until d).toSet,
      s"OPQ rotation at $path has non-contiguous row indices — corrupt artifact")
    val rot = (0 until d).map(byI).toArray
    rot.foreach { row =>
      require(row.length == d, s"OPQ rotation at $path is not square")
      require(row.forall(v => !v.isNaN && !v.isInfinite),
        s"non-finite value in OPQ rotation at $path")
    }
    require(rotationFingerprint(rot) == expectedFp,
      s"OPQ rotation at $path does not match its recorded fingerprint — " +
        "bit corruption or a hand-swapped rotation file; refusing to serve")
    var maxDev = 0.0
    var i = 0
    while (i < d) {
      var j = 0
      while (j < d) {
        var s = 0.0; var t = 0
        while (t < d) { s += rot(t)(i) * rot(t)(j); t += 1 }
        val dev = math.abs(s - (if (i == j) 1.0 else 0.0))
        if (dev > maxDev) maxDev = dev
        j += 1
      }
      i += 1
    }
    require(maxDev < 1e-6,
      f"OPQ rotation at $path is not orthogonal (max |RᵀR−I| = $maxDev%g) " +
        "— a non-orthogonal matrix breaks rotation-invariant distances " +
        "silently; retrain")
    rot
  }

  /** Persists a plain OPQ model (rotation + the codebooks trained in
    * rotated space): rotation rows, the PQ artifact (savePQ v2), and
    * the Artifacts meta binding BOTH fingerprints — so a hand-swap of
    * either subdirectory refuses at load. */
  def saveOpq(spark: SparkSession, path: String, model: OPQModel): Unit = {
    writeRotation(spark, path, model.rotation)
    savePQ(spark, s"$path/pq", model.pq)
    Artifacts.writeMeta(spark, s"$path/meta", (OpqFormatVersion,
        model.rotation.length, rotationFingerprint(model.rotation),
        pqFingerprint(model.pq)),
      "version", "d", "rotation_fp", "pq_fp")
  }

  /** Loads a `saveOpq` artifact — validated rotation (see
    * readRotation) + the paired codebooks, refusing a codebook whose
    * fingerprint disagrees with the meta's pairing record. */
  def loadOpq(spark: SparkSession, path: String): OPQModel = {
    val mr = Artifacts.readMeta(spark, s"$path/meta", "OPQ model",
      1 to OpqFormatVersion)
    val d = mr.get[Int]("d")
    val pq = loadPQ(spark, s"$path/pq")
    require(pqFingerprint(pq) == mr.get[String]("pq_fp"),
      s"OPQ artifact at $path: the stored codebooks do not match the meta's " +
        "pairing fingerprint — a hand-swapped pq/ directory would silently " +
        "decode garbage; refusing to serve")
    require(pq.d == d, s"OPQ artifact at $path: rotation d=$d but codebook " +
      s"d=${pq.d} — mismatched artifact halves")
    OPQModel(readRotation(spark, path, d, mr.get[String]("rotation_fp")), pq)
  }

  /** Persists the full production triple (rotation + coarse quantizer
    * + residual-or-raw codebooks) — what `trainOpqIvf` returns and a
    * rotated persisted index serves with. The meta binds all THREE
    * fingerprints and stores the centroids themselves (they are
    * centroid-sized — the writeIvfPqMeta convention). */
  def saveOpqIvf(spark: SparkSession, path: String, model: OpqIvfModel): Unit = {
    writeRotation(spark, path, model.rotation)
    savePQ(spark, s"$path/pq", model.pq)
    Artifacts.writeMeta(spark, s"$path/meta", (OpqFormatVersion,
        model.rotation.length, rotationFingerprint(model.rotation),
        pqFingerprint(model.pq), centsFingerprint(model.cents),
        Artifacts.encodeCents(model.cents)),
      "version", "d", "rotation_fp", "pq_fp", "cents_fp", "cents")
  }

  /** Loads a `saveOpqIvf` artifact with the full refusal battery:
    * rotation validation, codebook pairing, centroid fingerprint, and
    * (for residual codebooks) the residualTo ↔ stored-quantizer
    * agreement — a forged or mixed artifact fails here, with its own
    * diagnosis, never downstream as wrong neighbors. */
  def loadOpqIvf(spark: SparkSession, path: String): OpqIvfModel = {
    val mr = Artifacts.readMeta(spark, s"$path/meta", "OPQ-IVF model",
      1 to OpqFormatVersion)
    val d = mr.get[Int]("d")
    val cents = Artifacts.decodeCents(mr, "cents")
    require(centsFingerprint(cents) == mr.get[String]("cents_fp"),
      s"OPQ-IVF artifact at $path: stored centroids do not match their " +
        "fingerprint — corrupt artifact, refusing to serve")
    val pq = loadPQ(spark, s"$path/pq")
    val rotation = readRotation(spark, path, d, mr.get[String]("rotation_fp"))
    require(pqFingerprint(pq) == mr.get[String]("pq_fp"),
      s"OPQ-IVF artifact at $path: the stored codebooks do not match the " +
        "meta's pairing fingerprint — a hand-swapped pq/ directory would " +
        "silently decode garbage; refusing to serve")
    pq.residualTo.foreach { rt =>
      require(rt == centsFingerprint(cents),
        s"OPQ-IVF artifact at $path: the residual codebook is paired with a " +
          "different coarse quantizer than the artifact stores — refusing")
    }
    OpqIvfModel(rotation, cents, pq)
  }

  // ── Rotated persisted-index lifecycle (VERDICT r16 item 1) ──────
  //
  // The OPQ composition at rest: corpus and probes rotate through the
  // same rotateCol kernel, the whole IVF-PQ stack runs verbatim in
  // rotated space, and the index meta carries the rotation's
  // fingerprint so every plain (unrotated) entry refuses it — and
  // vice versa (requireRotationMatch). The quantizer and codebooks in
  // `model` must themselves have been trained in rotated space
  // (trainOpqIvf, or FirstK/trainPQ over rotateVectors output).

  def buildIvfPqIndexRotated(corpus: DataFrame, idCol: String,
                             vecCol: String, model: OpqIvfModel,
                             path: String,
                             metaCols: Seq[String] = Nil): Unit =
    buildIvfPqIndexCore(corpus, idCol, vecCol,
      v => rotateCol(v, model.rotation), model.cents, model.pq, path,
      rotationFp = Some(rotationFingerprint(model.rotation)), metaCols)

  def appendIvfPqIndexRotated(spark: SparkSession, batch: DataFrame,
                              idCol: String, vecCol: String,
                              model: OpqIvfModel, path: String,
                              requireNewIds: Boolean = true): Unit =
    appendIvfPqIndexCore(spark, batch, idCol, vecCol,
      v => rotateCol(v, model.rotation), model.pq, path, requireNewIds,
      rotationFp = Some(rotationFingerprint(model.rotation)))

  /** Indexed IVF-PQ top-k over a ROTATED persisted index: probes
    * arrive RAW and rotate through the same kernel the build used
    * before the pin — cell ranking, residuals, and ADC then run
    * entirely in rotated space, bit-identically to an in-memory
    * search over pre-rotated inputs. Refuses an unrotated or
    * differently-rotated index (requireRotationMatch). Runs
    * ivfPqIndexedServe. */
  def ivfPqTopKIndexedRotated(spark: SparkSession, indexPath: String,
                              probes: DataFrame, probeIdCol: String,
                              probeVecCol: String, model: OpqIvfModel,
                              nprobe: Int, k: Int,
                              verifyRows: Boolean = true,
                              maxProbes: Int = 10000,
                              filter: Option[Column] = None): DataFrame =
    ivfPqIndexedServe(spark, indexPath, probes, probeIdCol, probeVecCol,
      v => rotateCol(v, model.rotation), model.cents, model.pq, nprobe, k,
      verifyRows, maxProbes, filter,
      rotationFp = Some(rotationFingerprint(model.rotation)),
      "Similarity.ivfPqTopKIndexedRotated")._2

  /** Shortlist + exact re-rank from a ROTATED persisted index — the
    * complete production OPQ query path: raw probes rotate once,
    * stored rotated codes shortlist via cell-pruned ADC, and ONLY
    * probes × shortlist rows of the ROTATED float table join for the
    * exact-cosine final top-k. The exact math runs in rotated space;
    * orthogonality makes its cosine mathematically equal to the raw-
    * space cosine, and the oracle replays the rotated arithmetic
    * bit-for-bit. `corpus` is the RAW float table. Runs
    * ivfPqIndexedServe, then rerankShortlist over the touched rows. */
  def ivfPqTopKIndexedRerankRotated(spark: SparkSession, indexPath: String,
                                    corpus: DataFrame, idCol: String,
                                    vecCol: String, probes: DataFrame,
                                    probeIdCol: String, probeVecCol: String,
                                    model: OpqIvfModel, nprobe: Int, k: Int,
                                    shortlist: Int,
                                    verifyRows: Boolean = true,
                                    maxProbes: Int = 10000,
                                    filter: Option[Column] = None): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val served = ivfPqIndexedServe(spark, indexPath, probes, probeIdCol,
      probeVecCol, v => rotateCol(v, model.rotation), model.cents, model.pq,
      nprobe, shortlist, verifyRows, maxProbes, filter,
      rotationFp = Some(rotationFingerprint(model.rotation)),
      "Similarity.ivfPqTopKIndexedRerankRotated")
    // rotate ONLY the touched float rows: a broadcast semi-join on the
    // (probes × shortlist)-bounded id set prunes the corpus FIRST, so
    // the d×d rotation runs on thousands of rows, never corpus-wide
    val touched = corpus
      .select(col(idCol).cast("long").as("__cid"),
        VectorOps.toDouble(col(vecCol)).as("__cv"))
      .join(broadcast(served._2.select(col("vec_id").as("__cid")).distinct()),
        Seq("__cid"), "left_semi")
      .select(col("__cid"), rotateCol(col("__cv"), model.rotation).as("__rv"))
    rerankShortlist(touched, "__cid", "__rv", served, k)
  }

  /** Mean squared FULL-STACK reconstruction error (coarse + residual
    * codes) of a (cents, pq) pair over a vector column — the
    * objective trainOpqIvf minimizes. */
  def ivfPqReconstructionMse(df: DataFrame, vecCol: String,
                             cents: KMeans.Centroids, model: PQModel): Double = {
    val v = VectorOps.toDouble(col(vecCol))
    val centMap = typedlit(cents.map { case (cid, w) => cid -> w.toSeq }.toMap)
    val assigned = KMeans.assign(df.select(v.as("__v")), "__v", cents,
      outCol = "__cell")
      .withColumn("__r", cellResidualCol(col("__v"), col("__cell"), cents))
    encodePQUnchecked(assigned, "__r", model, "__c")
      .withColumn("__q",
        zip_with(decodeCol(col("__c"), model),
          element_at(centMap, col("__cell")), (a, b) => a + b))
      .filter(col("__q").isNotNull)
      .select(avg(VectorOps.sqDist(col("__v"), col("__q"))).as("mse"))
      .head().getDouble(0)
  }

  /** Mean squared quantization error of a PQ model over a (possibly
    * rotated) vector column — the number OPQ minimizes; exposed so
    * callers (and the spec) can verify the rotation actually paid. */
  def quantizationMse(df: DataFrame, vecCol: String, model: PQModel): Double = {
    val v = VectorOps.toDouble(col(vecCol))
    val rec = encodePQ(df.select(v.as("__v")), "__v", model, "__c")
      .withColumn("__q", decodeCol(col("__c"), model))
      .filter(col("__q").isNotNull)
    rec.select(avg(VectorOps.sqDist(col("__v"), col("__q"))).as("mse"))
      .head().getDouble(0)
  }

  /** Dense cid-indexed codebook arrays for the native PQ kernels:
    * books((j·k + c−1)·dsub + i) is codeword c of subspace j,
    * present(j·k + c−1) says whether cid c exists (a Lloyd fit with
    * keepEmpty=false can lose empty cells). Lookup is BY CID — the
    * retired position-indexed literal read the WRONG codeword for
    * every code above a vanished cid (review r15; gate models train
    * at maxIter=0 where cids are always contiguous, so no oracle row
    * ever hit it — sf10-stress models did). Vanished slots hold 0.0
    * and are never read — a code referencing one nulls the row via
    * `present`, matching element_at's null on the HOF twin. NOT NaN
    * (review r15): the kernel expressions embed `books` as a Vector
    * for case-class equality, and Scala boxed-double equality is
    * numeric (NaN != NaN), so NaN slots would make every
    * vanished-cid expression unequal even to a copy of itself —
    * silently defeating plan canonicalization and subexpression
    * reuse for exactly the Lloyd-trained models the cid-indexed
    * layout exists for. `present` keeps 0.0-filled-absent distinct
    * from a genuine zero codeword. */
  private def denseBooks(model: PQModel): (Array[Double], Array[Boolean]) = {
    val books = new Array[Double](model.m * model.k * model.dsub)
    val present = new Array[Boolean](model.m * model.k)
    for (j <- 0 until model.m; (cid, cw) <- model.codebooks(j)) {
      require(cid >= 1 && cid <= model.k,
        s"PQ codeword id $cid outside 1..${model.k} in subspace $j")
      require(cw.length == model.dsub,
        s"PQ codeword $cid of subspace $j has ${cw.length} dims, want ${model.dsub}")
      require(!present(j * model.k + cid - 1),
        s"duplicate PQ codeword id $cid in subspace $j")
      present(j * model.k + cid - 1) = true
      System.arraycopy(cw, 0, books, (j * model.k + cid - 1) * model.dsub,
        model.dsub)
    }
    (books, present)
  }

  /** Encode vectors to PQ codes: per subspace, the nearest-codeword
    * id (1-based) — an array<int> of length m. One native primitive
    * pass per row (PqEncodeExpr — whole-stage-codegen'd, no per-
    * subspace slice/argmin allocations): same distances and the same
    * lowest-cid tie-break as the assignColumn form, kept below as the
    * bit-pinned twin. Rowwise, no shuffle, no UDF. */
  def encodePQ(df: DataFrame, vecCol: String, model: PQModel,
               outCol: String = "codes"): DataFrame = {
    // the public encode entry takes RAW vectors — quantizing them
    // under residual codebooks is silently meaningless (review r16);
    // residual encodes go through the IVF-PQ build/append/serve
    // entries, which subtract the coarse cell first (encodeForIndex)
    requireRawModel(model, "Similarity.encodePQ")
    encodePQUnchecked(df, vecCol, model, outCol)
  }

  /** encodePQ past the mode guard — for encodeForIndex, whose input
    * column already IS the residual the codebooks were trained on. */
  private def encodePQUnchecked(df: DataFrame, vecCol: String, model: PQModel,
                                outCol: String): DataFrame = {
    val (books, present) = denseBooks(model)
    df.withColumn(outCol, VectorKernels.pqEncodeCol(
      VectorOps.toDouble(col(vecCol)), books, present,
      model.m, model.k, model.dsub))
  }

  /** The HOF twin of encodePQ (spec-only): the original per-subspace
    * assignColumn argmin chain. Bit-equal codes on well-formed input
    * — PqEncodeSpec pins it, including on vanished-cid codebooks. */
  private[graft] def encodePQHof(df: DataFrame, vecCol: String,
                                     model: PQModel,
                                     outCol: String = "codes"): DataFrame = {
    val v = VectorOps.toDouble(col(vecCol))
    val codes = array((0 until model.m).map { j =>
      KMeans.assignColumn(model.codebooks(j), slice(v, j * model.dsub + 1, model.dsub))
    }: _*)
    // null the whole encode when the vector cannot fill all m
    // subspaces or carries a null element in the used range — the
    // native kernel's pqEncodeValid contract. Without this gate the
    // per-subspace argmin would FABRICATE the lowest cid for a
    // truncated or null-holed slice (assignColumn's malformed-vector
    // convention, right for centroid assignment, wrong here: garbage
    // codes would be silently indexed), and the twin would diverge
    // from the native path exactly where parity matters (review r15;
    // PqEncodeSpec pins both paths null).
    val used = model.m * model.dsub
    val valid = (size(v) >= lit(used)) &&
      forall(slice(v, 1, used), x => x.isNotNull)
    df.withColumn(outCol, when(valid, codes))
  }

  /** Index-side encode — the ONE place build/append/in-memory-serve
    * decide what the codes quantize: the raw vector (raw model) or
    * the residual against the row's assigned coarse cell (residual
    * model — `cellCol` must be the assignment under `cents`, and the
    * model must have been trained against exactly that quantizer;
    * refused otherwise). Both are rowwise native kernels, no shuffle. */
  private def encodeForIndex(df: DataFrame, vecCol: String, cellCol: String,
                             cents: KMeans.Centroids, model: PQModel,
                             outCol: String): DataFrame =
    if (!model.residual) encodePQ(df, vecCol, model, outCol)
    else {
      requireResidualMatch(model, cents, "Similarity.encodeForIndex")
      encodePQUnchecked(
        df.withColumn("__cr",
          cellResidualCol(VectorOps.toDouble(col(vecCol)), col(cellCol), cents)),
        "__cr", model, outCol).drop("__cr")
    }

  /** `src` (id, __v, …) assigned to its nearest cell under `cents` and
    * encoded (encodeForIndex) into (…, cell, codes) — the rows every
    * IVF-PQ build, append and retrain writes, and the in-memory serve
    * ranks over. */
  private def assignEncode(src: DataFrame, cents: KMeans.Centroids,
                           model: PQModel): DataFrame =
    encodeForIndex(KMeans.assign(src, "__v", cents, outCol = "cell"),
      "__v", "cell", cents, model, outCol = "codes")

  /** The m×k literal codebook for the HOF twin — DENSE and
    * CID-INDEXED: position c of subspace j holds codeword cid c, or
    * null where the cid vanished in training, so element_at(…, c) is
    * a cid lookup, never a positional one (review r15 — the previous
    * sortBy+position literal read the wrong codeword for every code
    * above a vanished cid). */
  private[graft] def codebookLit(model: PQModel): Column = {
    val dense: Seq[Seq[Seq[Double]]] = (0 until model.m).map { j =>
      val byCid = model.codebooks(j).map { case (c, w) => c -> w.toSeq }.toMap
      (1 to model.k).map(c => byCid.getOrElse(c, null)): Seq[Seq[Double]]
    }
    typedlit(dense)
  }

  /** Per-row ADC distance: Σ_j sqDist(slice_j(pv), codebook(j)(c_j)),
    * j ascending — one native primitive loop per row (AdcDistExpr),
    * the same sequential fold (and bit-identical doubles) as both the
    * HOF twin below and the retired driver-side table's
    * Σ_j table(j)(c_j), so every oracle hash is unchanged. Native
    * because this is the innermost loop of every PQ serve — the HOF
    * chain (transform + slice + element_at per subspace) evaluated
    * outside whole-stage codegen at ~16× the cost per candidate
    * (sf10 stress, BASELINE round-15). */
  private def adcDist(codes: Column, pv: Column, model: PQModel): Column = {
    val (books, present) = denseBooks(model)
    VectorKernels.adcCol(codes, pv, books, present,
      model.m, model.k, model.dsub)
  }

  /** Spec-visible alias of the native adcDist (PqEncodeSpec pins it
    * against the HOF twin below). */
  private[graft] def adcDistNative(codes: Column, pv: Column,
                                   model: PQModel): Column =
    adcDist(codes, pv, model)

  /** The HOF twin of adcDist (spec-only) — bit-pinned against the
    * native kernel in PqEncodeSpec, including on vanished-cid
    * codebooks and malformed inputs. */
  private[graft] def adcDistHof(codes: Column, pv: Column,
                                    model: PQModel): Column = {
    val books = codebookLit(model)
    VectorOps.foldSum(transform(codes, (c, j) =>
      VectorOps.sqDist(
        slice(pv, j * lit(model.dsub) + lit(1), lit(model.dsub)),
        element_at(element_at(books, j + lit(1)), c))))
  }

  /** The probe pin of every batch vector serve: (probe_id: long,
    * __pv: the probe vector as doubles through `prep` — identity, or
    * the OPQ rotation, so rotated serves rank in the index's space),
    * under the probe-count guard. Every path broadcasts
    * `perProbeBytes` per probe — since the executor-side ADC rewrite
    * (VERDICT r14 item 2) that is the d-vector alone,
    * d·8 bytes, for PQ and float paths alike (the m×k tables no
    * longer exist anywhere; the codebook is a probe-count-independent
    * plan literal) — and the IVF paths additionally collect the
    * probe vectors driver-side to rank cells for partition pruning.
    * The budget is a broadcast/collect-size decision, not a semantic
    * limit: at d=64 a probe costs 512 bytes, so the 10k default is
    * ~5 MiB — callers with a generous driver raise maxProbes
    * explicitly, and batching the probe set is always sound (the
    * serve is per-probe-independent).
    *
    * Enforced by ONE bounded materialization (review r14, twice):
    * `limit(maxProbes+1)` caps what can ever materialize — so an
    * over-budget probe set costs one bounded scan, never a driver
    * OOM — and ONE driver collect PINS the instantiation (r19: the
    * pin used to be an eager localCheckpoint, whose budget count,
    * later driver collect, and broadcast evaluations were each their
    * own Spark job — 3-4 fixed-overhead barriers per serve; the
    * probes end up driver-resident for cell ranking ANYWAY, so the
    * collect IS the pin). The returned frame is a LOCAL relation over
    * the collected rows: the budget check, the cell-ranking collect,
    * and every broadcast/join built from it read the same driver rows
    * — LocalTableScan collects and broadcasts without launching a
    * job — so a nondeterministic probes plan (repartition+limit
    * without ordering, a view over changing files) cannot diverge
    * between stages, and the probe subplan is evaluated exactly once
    * however many stages consume it. Driver memory is the SAME budget
    * as before: the collect this replaces always happened downstream,
    * priced by perProbeBytes. Both stages of a rerank read the same
    * pinned rows. */
  private def boundedProbes(probes0: DataFrame, probeIdCol: String,
                            probeVecCol: String, prep: Column => Column,
                            maxProbes: Int, perProbeBytes: Long,
                            where: String): DataFrame = {
    val probes = probes0.select(col(probeIdCol).cast("long").as("probe_id"),
      prep(VectorOps.toDouble(col(probeVecCol))).as("__pv"))
    val rows = probes.limit(maxProbes + 1).collect()
    require(rows.length <= maxProbes,
      s"$where: probe set exceeds maxProbes=$maxProbes — probes collect to " +
        s"the driver and broadcast at ~$perProbeBytes bytes each " +
        s"(~${perProbeBytes * maxProbes >> 20} MiB at the cap); raise " +
        "maxProbes if the broadcast budget allows, or batch the probe set")
    probes.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), probes.schema)
  }

  private def pqProbeBytes(model: PQModel): Long = model.d * 8L

  /** Residual mode broadcasts one query residual per (probe, probed
    * cell) instead of one d-vector per probe — nprobe+1 d-vectors per
    * probe (the +1 is the raw vector, still collected for cell
    * ranking), priced into the same boundedProbes budget: at d=64,
    * nprobe=16 a probe costs ~8.7 KiB, so the 10k default is ~85 MiB
    * — still a broadcast-size decision, not a semantic limit. */
  private def ivfPqProbeBytes(model: PQModel, nprobe: Int): Long =
    if (model.residual) model.d.toLong * 8L * (nprobe + 1L)
    else model.d * 8L

  /** The (probe, probed-cell) pruning relation of the persisted IVF
    * serve and every IVF-PQ serve, built driver-side from the pinned
    * probe collect (`pr` rows are boundedProbes' (probe_id, __pv)).
    * Raw mode: (probe_id, cell) int pairs — probes × nprobe ints; the
    * probe d-vector joins separately on probe_id. Residual mode: the
    * relation ALSO carries the per-(probe, cell) QUERY RESIDUAL
    * q − c(cell) as `__pv` (the IVF-ADC probe-side subtraction — a
    * candidate found through cell c stores codes for x − c, so its ADC
    * must use q − c; the same IEEE a−b the index side and the oracle
    * compute), and the raw-vector join is skipped. A probe whose length differs
    * from the centroid dim gets an EMPTY residual — ADC then nulls
    * every candidate distance (adcValid: pv too short), the same
    * no-results outcome the raw path reaches via adcValid on the
    * mismatched raw vector. */
  private def probeCellsDF(spark: SparkSession,
                           pr: Array[org.apache.spark.sql.Row],
                           cents: KMeans.Centroids, nprobe: Int,
                           residual: Boolean): (DataFrame, Seq[Int]) = {
    import spark.implicits._
    if (!residual) {
      val pairs = pr.toSeq.flatMap { r =>
        val pv = r.getSeq[Double](1).toArray
        nearestCells(pv, cents, nprobe).map(c => (r.getLong(0), c))
      }
      (pairs.toDF("probe_id", "cell"), pairs.map(_._2).distinct)
    } else {
      val centMap = cents.map { case (cid, v) => cid -> v }.toMap
      val triples = pr.toSeq.flatMap { r =>
        val pv = r.getSeq[Double](1).toArray
        nearestCells(pv, cents, nprobe).map { c =>
          val cw = centMap(c)
          val res: Seq[Double] =
            if (pv.length == cw.length) Seq.tabulate(pv.length)(i => pv(i) - cw(i))
            else Seq.empty
          (r.getLong(0), c, res)
        }
      }
      (triples.toDF("probe_id", "cell", "__pv"), triples.map(_._2).distinct)
    }
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: a candidate's
    * approximate squared distance to a probe is Σ_j sqDist(probe's
    * j-th subvector, codeword code_j) — computed EXECUTOR-side per
    * row from the probe's broadcast d-vector and ONE literal codebook
    * embedded in the plan (VERDICT r14 item 2). Nothing probe-scaled
    * is ever built on the driver: the old shape precomputed each
    * probe's m×k sub-distance table in a single-threaded driver loop
    * and broadcast probes × m·k doubles (~330 MiB at the priced
    * ceiling); now the broadcast is the d-vector alone (probes × d
    * doubles — 5 MiB for 10k probes at d=64) and the codebook ships
    * once, probe-count-independent, as m·k·dsub plan-literal doubles.
    * The trade is per-pair flops: m sqDists of dsub dims (= d
    * mult-adds) instead of m table lookups — the same arithmetic the
    * table build amortized, re-run per pair. At corpus scale the scan
    * is I/O-bound on the 32×-compressed code column and the codebook
    * is cache-resident, so the flop increase is noise next to the
    * removed driver/broadcast ceiling; ranking still reuses the
    * TopKAgg partial-agg path (≤k rows per probe leave each task).
    * Ties break on the lowest vec_id; self-matches excluded, like
    * topKCosine. Runs pqServe. Output: (probe_id, vec_id, rank,
    * adist); re-rank the head with exact floats when exactness matters
    * — the standard PQ recipe. */
  def pqTopK(codes: DataFrame, idCol: String, codesCol: String,
             probes: DataFrame, probeIdCol: String, probeVecCol: String,
             model: PQModel, k: Int, maxProbes: Int = 10000): DataFrame =
    pqServe(codes, idCol, codesCol, probes, probeIdCol, probeVecCol, model,
      k, maxProbes, "Similarity.pqTopK")._2

  /** The flat-PQ serve: pins the probes (boundedProbes), crosses
    * them with the whole code table and ranks by ADC (rankTail).
    * Returns the pin with the top-k, so pqTopKRerank's exact stage
    * reads the same probe rows. */
  private def pqServe(codes: DataFrame, idCol: String, codesCol: String,
                      probes: DataFrame, probeIdCol: String,
                      probeVecCol: String, model: PQModel, k: Int,
                      maxProbes: Int, where: String): (DataFrame, DataFrame) = {
    requireRawModel(model, "Similarity.pqTopK")
    TopKAgg.requireLongCastableId(codes, idCol, "Similarity.pqTopK")
    TopKAgg.requireLongCastableId(probes, probeIdCol, "Similarity.pqTopK")
    val pinned = boundedProbes(probes, probeIdCol, probeVecCol, identity,
      maxProbes, pqProbeBytes(model), where)
    (pinned, rankTail(
      codes.select(col(idCol).cast("long").as("__id"), col(codesCol).as("__c"))
        .crossJoin(broadcast(pinned))
        .filter(col("__id") =!= col("probe_id"))
        .select(col("probe_id"), col("__id"),
          adcDist(col("__c"), col("__pv"), model).as("__s")), k, adc = true))
  }

  /** PQ shortlist + exact re-rank — the full standard recipe: ADC
    * over codes produces a shortlist of `shortlist` candidates per
    * probe (cheap, floats never read), then ONLY those rows join back
    * to the float table for exact cosine ranking of the final top-k.
    * The float join touches shortlist·probes rows — thousands, not
    * the corpus — so the expensive exact math runs on a vanishing
    * fraction of the data while recall approaches brute force as
    * `shortlist`/k grows. One bounded probe pin feeds both stages, so
    * a nondeterministic probes plan cannot re-rank a shortlist against
    * vectors that never produced it. Runs pqServe, then
    * rerankShortlist. Output matches topKCosine's shape:
    * (probe_id, vec_id, rank, sim). */
  def pqTopKRerank(corpus: DataFrame, idCol: String, vecCol: String,
                   codes: DataFrame, codesIdCol: String, codesCol: String,
                   probes: DataFrame, probeIdCol: String, probeVecCol: String,
                   model: PQModel, k: Int, shortlist: Int,
                   maxProbes: Int = 10000): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    rerankShortlist(corpus, idCol, vecCol, pqServe(codes, codesIdCol, codesCol,
      probes, probeIdCol, probeVecCol, model, shortlist, maxProbes,
      "Similarity.pqTopKRerank"), k)
  }

  /** Exact cosine re-rank of a candidate shortlist — the generic back
    * half of every approximate-then-exact recipe: ONLY the shortlist
    * rows (probes × shortlist — thousands, not the corpus) join the
    * float table, so the exact math runs on a vanishing fraction of
    * the data. `cands` must carry (probe_id, vec_id). Runs rankTail.
    * Output matches topKCosine's shape: (probe_id, vec_id, rank, sim). */
  def exactRerank(corpus: DataFrame, idCol: String, vecCol: String,
                  probes: DataFrame, probeIdCol: String, probeVecCol: String,
                  cands: DataFrame, k: Int): DataFrame = {
    val pv = probes.select(col(probeIdCol).cast("long").as("probe_id"),
      VectorOps.toDouble(col(probeVecCol)).as("__pv"))
      .withColumn("__pn", VectorOps.norm2(col("__pv")))
    rankTail(cands.select(col("probe_id"), col("vec_id"))
      .join(corpus.select(col(idCol).cast("long").as("vec_id"),
        VectorOps.toDouble(col(vecCol)).as("__v")), "vec_id")
      .join(broadcast(pv), "probe_id")
      .select(col("probe_id"), col("vec_id").as("__id"),
        VectorOps.cosineWithNorms(col("__v"), col("__pv"),
          VectorOps.norm2(col("__v")), col("__pn")).as("__s")), k, adc = false)
  }

  /** exactRerank of a serve's (pinned probes, shortlist) pair, the
    * shortlist ranked against the same pinned probe rows. */
  private def rerankShortlist(corpus: DataFrame, idCol: String, vecCol: String,
                              pinnedAndShort: (DataFrame, DataFrame),
                              k: Int): DataFrame = {
    val (pinned, short) = pinnedAndShort
    exactRerank(corpus, idCol, vecCol, pinned, "probe_id", "__pv",
      short.select(col("probe_id"), col("vec_id")), k)
  }

  /** IVF-PQ shortlist + exact float re-rank — the COMPLETE
    * billion-vector query recipe (what a production serving stack
    * actually answers queries with): coarse cells prune the scan to
    * nprobe/#cells, ADC over codes ranks a `shortlist` of candidates
    * per probe without reading a single float, and ONLY those
    * probes × shortlist rows join the float table for the exact final
    * top-k — recall approaches brute force as shortlist/k grows while
    * the exact math never touches the corpus. Runs ivfPqServe, then
    * rerankShortlist. Output: topKCosine's shape,
    * (probe_id, vec_id, rank, sim). */
  def ivfPqTopKRerank(corpus: DataFrame, idCol: String, vecCol: String,
                      probes: DataFrame, probeIdCol: String,
                      probeVecCol: String, cents: KMeans.Centroids,
                      model: PQModel, nprobe: Int, k: Int, shortlist: Int,
                      maxProbes: Int = 10000): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    rerankShortlist(corpus, idCol, vecCol, ivfPqInMemory(corpus, idCol, vecCol,
      probes, probeIdCol, probeVecCol, cents, model, nprobe, shortlist,
      maxProbes, "Similarity.ivfPqTopKRerank"), k)
  }

  /** IVF-PQ top-k — the composition that actually indexes billions
    * of vectors: the IVF coarse quantizer restricts each query to
    * nprobe cells, and within those cells ranking runs entirely on PQ
    * codes — the floats are never read at query time. The index row
    * is (id, cell, codes): a cell id plus m small ints per vector.
    * This entry assigns and encodes the corpus inside the query (the
    * in-memory audit path); ivfPqTopKIndexed serves the persisted
    * form through the same ivfPqServe, so both return the same rows.
    * Exclusions/ties follow pqTopK. Output: (probe_id, vec_id, rank,
    * adist). */
  def ivfPqTopK(corpus: DataFrame, idCol: String, vecCol: String,
                probes: DataFrame, probeIdCol: String, probeVecCol: String,
                cents: KMeans.Centroids, model: PQModel,
                nprobe: Int, k: Int, maxProbes: Int = 10000): DataFrame =
    ivfPqInMemory(corpus, idCol, vecCol, probes, probeIdCol, probeVecCol,
      cents, model, nprobe, k, maxProbes, "Similarity.ivfPqTopK")._2

  /** The in-memory IVF-PQ serve: pins the probes, assigns and encodes
    * the corpus (assignEncode, the index build's own code) and runs
    * ivfPqServe over it. Returns the pin with the top-k. */
  private def ivfPqInMemory(corpus: DataFrame, idCol: String, vecCol: String,
                            probes: DataFrame, probeIdCol: String,
                            probeVecCol: String, cents: KMeans.Centroids,
                            model: PQModel, nprobe: Int, k: Int,
                            maxProbes: Int, where: String)
      : (DataFrame, DataFrame) = {
    TopKAgg.requireLongCastableId(corpus, idCol, "Similarity.ivfPqTopK")
    TopKAgg.requireLongCastableId(probes, probeIdCol, "Similarity.ivfPqTopK")
    val pinned = boundedProbes(probes, probeIdCol, probeVecCol, identity,
      maxProbes, ivfPqProbeBytes(model, nprobe), where)
    val encoded = assignEncode(corpus.select(col(idCol).cast("long").as("id"),
      VectorOps.toDouble(col(vecCol)).as("__v")), cents, model)
    (pinned, ivfPqServe(encoded, prune = false, pinned, cents, model, nprobe, k))
  }

  /** The one ADC body of every batch IVF-PQ serve. `cand` is a
    * candidate table carrying (id, cell, codes): the persisted live
    * scan, or the in-memory encoded corpus. The (probe, cell) pairs
    * rank driver-side from the pinned collect (probeCellsDF); `prune`
    * adds the static `cell IN (...)` predicate, which reaches a
    * persisted scan as partition pruning (an in-memory table has no
    * partitions, and the predicate would be pushed below its
    * assignment and run it twice). Two broadcast relations join the
    * candidates — the pairs, then ONE d-vector per probe on probe_id,
    * after the cell join has cut the scan; residual mode carries the
    * per-(probe, cell) query residual inside the pairs and skips the
    * vector join. ADC runs per row from the plan-literal codebook, so
    * nothing m×k-scaled is driver-built or broadcast, and rankTail
    * keeps the k best. */
  private def ivfPqServe(cand: DataFrame, prune: Boolean, pinned: DataFrame,
                         cents: KMeans.Centroids, model: PQModel, nprobe: Int,
                         k: Int): DataFrame = {
    val (pc, cells) = probeCellsDF(pinned.sparkSession, pinned.collect(), cents,
      nprobe, model.residual)
    val joined = (if (prune) cand.filter(col("cell").isin(cells: _*)) else cand)
      .join(broadcast(pc), "cell")
      .filter(col("id") =!= col("probe_id"))
    val withPv = if (model.residual) joined
      else joined.join(broadcast(pinned), "probe_id")
    rankTail(withPv.select(col("probe_id"), col("id").as("__id"),
      adcDist(col("codes"), col("__pv"), model).as("__s")), k, adc = true)
  }

  // ── Persisted IVF-PQ index (the full production serving stack) ───
  //
  // Layout v2 (r17): data lives in a GENERATION directory `g<N>`
  // under the index root instead of at the root itself. Appends and
  // deletes mutate the current generation (new files / tombstones);
  // compaction writes generation N+1 BESIDE generation N and flips
  // the meta pointer, retaining exactly one retired generation — so a
  // reader that planned against generation N (a streaming serve mid-
  // trigger, a long batch query) keeps a consistent snapshot through
  // one full compact instead of hitting files a rename swept away
  // (VERDICT r16 item 6: before-or-after, never torn). The retired
  // generation dies on the NEXT compact. v1 indexes (data at the
  // root) still READ; the write paths (append/delete) require one
  // compact first, which migrates to the generational layout — the
  // rewrite compaction was going to do anyway.

  private val IvfPqMetaVersion = 2

  /** Decoded IVF-PQ index meta. `rows` counts rows physically landed
    * in the current generation; `deleted` of them are tombstoned
    * (takedowns awaiting compaction), so `live = rows - deleted` is
    * what a serve returns candidates from. `rotationFp` is the OPQ
    * rotation provenance: Some(fp) means every stored code quantizes
    * x·R — serving unrotated probes against it (or rotated probes
    * against an unrotated index) is silently wrong, so the serve
    * entries refuse any mismatch (ADVICE r16). */
  private[operators] final case class IvfPqMeta(
      version: Int, rows: Long, deleted: Long, gen: Long,
      fingerprint: String, cents: KMeans.Centroids,
      pqFingerprint: String, rotationFp: Option[String]) {
    def live: Long = rows - deleted
  }

  /** The current generation's data directory ­— the index root itself
    * for a v1 (pre-generational) index. */
  private def ivfPqDataDir(path: String, meta: IvfPqMeta): String =
    if (meta.version >= 2) s"$path/g${meta.gen}" else path

  /** The current generation's tombstone directory (v2 only — v1
    * indexes refuse deletes). Kept per generation so a reader pinned
    * to the retired generation still resolves ITS tombstones during
    * the one-compact grace window. */
  private def ivfPqTombDir(path: String, gen: Long): String =
    s"$path/_tomb/g$gen"

  /** Order-independent digest of a PQ codebook set: md5 over
    * (j, cid, dsub, IEEE-754 bits) in (j, cid) order, plus the
    * residual mode and its coarse-quantizer fingerprint — the
    * provenance that binds persisted CODES to the codebook AND the
    * subtraction convention that wrote them (a raw and a residual
    * model must never fingerprint-equal: their codes mean different
    * things at ADC time). */
  private[graft] def pqFingerprint(model: PQModel): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(8)
    model.codebooks.zipWithIndex.foreach { case (book, j) =>
      book.sortBy(_._1).foreach { case (cid, cw) =>
        buf.clear(); buf.putInt(j); buf.putInt(cid)
        md.update(buf.array(), 0, 8)
        cw.foreach { x =>
          buf.clear(); buf.putLong(java.lang.Double.doubleToLongBits(x))
          md.update(buf.array(), 0, 8)
        }
      }
    }
    model.residualTo.foreach { rt =>
      md.update("residual:".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(rt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Persist the IVF-PQ index — the form that actually serves
    * billions of vectors from disk: each row is (id, m small-int
    * codes), written PARTITIONED BY coarse cell, so a query reads
    * nprobe/#cells of an already-32×-compressed table and the floats
    * are never stored in the index at all. The Artifacts meta carries
    * BOTH provenances (coarse-quantizer fingerprint + centroids, PQ
    * codebook fingerprint): codes decoded under a drifted codebook, or
    * cells probed under a drifted quantizer, are silently-plausible
    * garbage — the serve refuses both. Writes at the current version. */
  private def writeIvfPqMeta(spark: SparkSession, path: String,
                             meta: IvfPqMeta): Unit =
    Artifacts.writeMeta(spark, s"$path/_graft_ivfpq_meta",
      (IvfPqMetaVersion, meta.rows, meta.deleted, meta.gen, meta.fingerprint,
        Artifacts.encodeCents(meta.cents), meta.pqFingerprint,
        meta.rotationFp.orNull),
      "version", "rows", "deleted", "gen", "fingerprint", "cents",
      "pq_fingerprint", "rotation_fp")

  /** Decodes a persisted IVF-PQ index's meta. v1 metas — data at the
    * root, no deletes, no rotation provenance — read as (deleted = 0,
    * gen = 0, rotationFp = None): every v1 field is safely
    * interpretable, so reads never strand an old index (the loadPQ v1
    * lesson, ADVICE r16); only the write paths demand the v2 layout,
    * reachable through one compact. */
  private[operators] def readIvfPqMeta(spark: SparkSession,
                                       path: String): IvfPqMeta = {
    val m = Artifacts.readMeta(spark, s"$path/_graft_ivfpq_meta",
      "IVF-PQ index", 1 to IvfPqMetaVersion)
    IvfPqMeta(m.version, m.get[Long]("rows"), m.since(2, "deleted", 0L),
      m.since(2, "gen", 0L), m.get[String]("fingerprint"),
      Artifacts.decodeCents(m, "cents"), m.get[String]("pq_fingerprint"),
      Option(m.since[String](2, "rotation_fp", null)))
  }

  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      cents: KMeans.Centroids, model: PQModel,
                      path: String, metaCols: Seq[String] = Nil): Unit =
    buildIvfPqIndexCore(corpus, idCol, vecCol, identity, cents, model, path,
      rotationFp = None, metaCols)

  /** Shared build core: `prep` transforms the raw vector column
    * (identity for the plain entry, x·R for the rotated one) BEFORE
    * assignment and encoding, and `rotationFp` lands in the meta so
    * the serve refuses a mixed-space query. A fresh build starts at
    * generation 0 under the v2 layout; the whole index root is wiped
    * first so a rebuild can never leave stale generations (or v1
    * root-level cells) behind a fresh meta. `metaCols` are filterable
    * metadata columns carried into the index rows (see buildIvfIndex)
    * — at 100 TB these small columns ride the 32×-compressed code
    * table, so a source/license/date predicate prunes candidates
    * inside the cell scan without ever touching the float table. */
  private def buildIvfPqIndexCore(corpus: DataFrame, idCol: String,
                                  vecCol: String, prep: Column => Column,
                                  cents: KMeans.Centroids, model: PQModel,
                                  path: String,
                                  rotationFp: Option[String],
                                  metaCols: Seq[String] = Nil): Unit = {
    TopKAgg.requireLongCastableId(corpus, idCol, "Similarity.buildIvfPqIndex")
    requireMetaColNames(metaCols, Set("id", "codes", "cell"),
      "Similarity.buildIvfPqIndex")
    val spark = corpus.sparkSession
    // wipe the root (not just the data dir): a rebuild over an old
    // index must not leave retired generations, tombstones, or
    // v1-layout cells behind the new meta — the generational twin of
    // the forced-static-overwrite rule (ADVICE r13)
    Artifacts.delete(spark, path)
    val dataDir = s"$path/g0"
    // one file per cell per write + production file cap (the compact
    // posture — see buildIvfIndex; guide §6 small-files)
    cellPartitionedWriter(assignEncode(
      corpus.select(col(idCol).cast("long").as("id") +:
        prep(VectorOps.toDouble(col(vecCol))).as("__v") +:
        metaCols.map(col): _*), cents, model)
      .select(col("id") +: col("codes") +: col("cell") +: metaCols.map(col): _*))
      .option("partitionOverwriteMode", "static")
      .partitionBy("cell").mode("overwrite").parquet(dataDir)
    writeIvfPqMeta(spark, path, IvfPqMeta(IvfPqMetaVersion,
      Artifacts.scan(spark, dataDir).rows, deleted = 0L, gen = 0L,
      centsFingerprint(cents), cents, pqFingerprint(model), rotationFp))
    Artifacts.refreshIndexPath(spark, path)
  }

  /** Incremental IVF-PQ index maintenance — the `appendIvfIndex`
    * symmetry for the code table (VERDICT r13 item 2): a new batch is
    * assigned with the index's own STORED coarse centroids and encoded
    * under the caller's codebook, which must fingerprint-match the one
    * the index was built with (codes appended under a drifted codebook
    * would be silently-plausible garbage at ADC time — the same
    * refusal the serve makes). Meta rows = prev + batch (O(batch), not
    * a full recount); the meta writes AFTER the data, so a crash
    * between the steps leaves actual > meta, which the serve-side row
    * check refuses — detectably stale, never silently short. Without
    * this, a growing corpus forces a full rebuild per ingest batch.
    * The duplicate-id audit defaults ON (one id-column scan per
    * append — see requireIdsNotIndexed); pipelines that dedup
    * upstream (dropSeenExact) opt out with requireNewIds = false. */
  def appendIvfPqIndex(spark: SparkSession, batch: DataFrame,
                       idCol: String, vecCol: String, model: PQModel,
                       path: String, requireNewIds: Boolean = true): Unit =
    appendIvfPqIndexCore(spark, batch, idCol, vecCol, identity, model, path,
      requireNewIds, rotationFp = None)

  private def appendIvfPqIndexCore(spark: SparkSession, batch: DataFrame,
                                   idCol: String, vecCol: String,
                                   prep: Column => Column, model: PQModel,
                                   path: String, requireNewIds: Boolean,
                                   rotationFp: Option[String]): Unit = {
    TopKAgg.requireLongCastableId(batch, idCol, "Similarity.appendIvfPqIndex")
    val meta = readIvfPqMeta(spark, path)
    requireV2Layout(meta, path, "Similarity.appendIvfPqIndex")
    // provenance first (driver-local), THEN the dup audit (one
    // id-column scan) — a drifted codebook or a mixed rotation space
    // must surface as itself, not as whatever the audit hits first
    require(meta.pqFingerprint == pqFingerprint(model),
      s"stale IVF-PQ index at $path: the PQ codebook passed to the append " +
        "does not match the one the index's codes were written with — " +
        "mixed-codebook codes are silently wrong at ADC time; rebuild the " +
        "index or load its paired codebook")
    requireRotationMatch(meta, rotationFp, path,
      "Similarity.appendIvfPqIndex")
    val dataDir = ivfPqDataDir(path, meta)
    // filterable metadata columns are part of the index's schema
    // contract (see appendIvfIndex)
    // one listing of the generation serves the schema check and the audit
    val indexed = Artifacts.scan(spark, dataDir).df
    val extra = indexExtraCols(indexed, Set("id", "codes", "cell"))
    requireBatchCarriesMeta(batch, extra, path, "Similarity.appendIvfPqIndex")
    // pin ONE instantiation of the batch: the audit, the write, and
    // the meta count must see the same rows (see requireIdsNotIndexed)
    val src = batch.select(col(idCol).cast("long").as("id") +:
      prep(VectorOps.toDouble(col(vecCol))).as("__v") +: extra.map(col): _*)
      .localCheckpoint()
    // explicit block release after the meta write (ADVICE r15) — see
    // appendIvfIndex
    try {
      // a batch id sitting in the TOMBSTONE set refuses loudly and
      // FIRST (r17 deletes): its old physical row is still in the
      // data files, so a re-append before compaction would leave the
      // id with one dead row, one live row, and one tombstone — the
      // serve's anti-join would then kill BOTH rows, silently
      // disappearing the re-appended document. After a compact the id
      // is physically gone and re-appends cleanly (gated in
      // q_ivfpq_delete).
      Artifacts.requireNotTombstoned(spark, src,
        ivfPqTombDir(path, meta.gen), path, "Similarity.appendIvfPqIndex")
      if (requireNewIds) requireIdsNotIndexed(src, indexed, dataDir,
        "Similarity.appendIvfPqIndex", "serve duplicate rows")
      val assigned = assignEncode(src, meta.cents, model)
        .select(col("id") +: col("codes") +: col("cell") +:
          extra.map(col): _*)
      // one file per cell per append + production file cap (see build)
      cellPartitionedWriter(assigned)
        .partitionBy("cell").mode("append").parquet(dataDir)
      writeIvfPqMeta(spark, path, meta.copy(rows = meta.rows + src.count()))
      Artifacts.refreshIndexPath(spark, path)
    } finally {
      org.apache.spark.sql.graftglue.ColumnGlue.unpersistLocalCheckpoint(src)
    }
  }

  /** The write paths demand the generational layout; a v1 index
    * reaches it through one compact (which migrates), so nothing is
    * stranded — reads on v1 stay untouched. */
  private def requireV2Layout(meta: IvfPqMeta, path: String,
                              where: String): Unit =
    require(meta.version >= 2,
      s"$where: the index at $path uses the pre-generational v1 layout " +
        "(data at the root) — run compactIvfPqIndex once to migrate it to " +
        "the v2 generation layout, then retry; reads work on both layouts")

  /** Mixed-rotation-space refusal, shared by append and serve: codes
    * written over x·R are silently-plausible garbage under unrotated
    * (or differently-rotated) queries — exactly the residualTo
    * failure mode, so the same loud fingerprint gate (ADVICE r16). */
  private def requireRotationMatch(meta: IvfPqMeta,
                                   rotationFp: Option[String], path: String,
                                   where: String): Unit =
    (meta.rotationFp, rotationFp) match {
      case (Some(a), Some(b)) => require(a == b,
        s"$where: the index at $path was built over vectors rotated by a " +
          "DIFFERENT OPQ rotation than the one passed — mixed rotation " +
          "spaces are silently wrong; load the index's paired OPQ artifact " +
          "(loadOpqIvf) or rebuild")
      case (Some(_), None) => throw new IllegalArgumentException(
        s"$where: the index at $path stores OPQ-ROTATED codes — serving or " +
          "appending unrotated vectors against it is silently wrong; use " +
          "the *Rotated entry with the index's paired OPQ artifact")
      case (None, Some(_)) => throw new IllegalArgumentException(
        s"$where: the index at $path stores UNROTATED codes but an OPQ " +
          "rotation was passed — rotated probes against raw codes are " +
          "silently wrong; use the plain entry, or rebuild the index " +
          "through buildIvfPqIndexRotated")
      case (None, None) => ()
    }

  // ── Index compaction (VERDICT r14 item 4) ────────────────────────

  /** Compact a persisted IVF index in place: every appendIvfIndex
    * lands ≥1 new parquet file per touched cell, so N ingest batches
    * leave N files/cell — the classic small-file collapse at 100 TB
    * ingest cadence (per-file footer reads and task-scheduling
    * overhead start to dominate the pruned scan). Rewrites each cell
    * to one file, physically DROPPING tombstoned rows (r17 deletes:
    * meta rows := landed − deleted, deleted := 0 — the tombstone dir
    * stays behind in the swapped-away root). On the live rows the
    * serve result is byte-identical. Refuses an index whose actual
    * row or tombstone count drifted from its meta. Single-writer
    * discipline is the caller's, as for append. */
  def compactIvfIndex(spark: SparkSession, path: String): Unit = {
    val meta = readIvfMeta(spark, path)
    val tombDir = Artifacts.rootTombDir(path)
    val data = Artifacts.scan(spark, path)
    Artifacts.requireCounts(spark, data, meta.rows,
      tombDir, meta.deleted, path, "Similarity.compactIvfIndex")
    Artifacts.compactIndexRoot(spark, path, data, "", "_graft_index_meta",
      meta.live, "Similarity.compactIvfIndex",
      rewriteMeta = if (meta.deleted > 0) Some(root =>
        writeIvfMeta(spark, root, meta.copy(rows = meta.live, deleted = 0L)))
      else None) { (df, dest) =>
      cellPartitionedWriter(Artifacts.maskTombstones(spark, df, tombDir))
        .option("partitionOverwriteMode", "static")
        .partitionBy("cell").mode("overwrite").parquet(dest)
    }
  }

  /** Tombstone-delete ids from a persisted IVF-PQ index — the
    * takedown mutation a 100 TB training-data pipeline is legally
    * forced to run (VERDICT r16 item 2), without the full rebuild it
    * used to cost. The ids land in the current generation's tombstone
    * set (one small parquet append — O(takedown), never O(index));
    * every serve anti-joins the set from its candidates immediately,
    * and the next compact drops the rows physically and clears the
    * set. Idempotent: ids not live in the index (absent, or already
    * tombstoned) are skipped, so a retried takedown cannot double-
    * count `deleted`. The meta (deleted = prev + newly-tombstoned)
    * writes AFTER the tombstone data, so a crash between the steps
    * leaves actual tombstones > meta.deleted — detectably stale
    * (the serve's verifyRows check), never silently un-deleted.
    * Single-writer discipline is the caller's, as for append. */
  def deleteFromIvfPqIndex(spark: SparkSession, ids: DataFrame,
                           idCol: String, path: String): Unit = {
    TopKAgg.requireLongCastableId(ids, idCol, "Similarity.deleteFromIvfPqIndex")
    val meta = readIvfPqMeta(spark, path)
    requireV2Layout(meta, path, "Similarity.deleteFromIvfPqIndex")
    Artifacts.deleteIds(spark, ids.select(col(idCol).cast("long").as("id")),
      ivfPqDataDir(path, meta), ivfPqTombDir(path, meta.gen), meta.deleted,
      path, "Similarity.deleteFromIvfPqIndex") { deleted =>
      writeIvfPqMeta(spark, path, meta.copy(deleted = deleted))
      Artifacts.refreshIndexPath(spark, path)
    }
  }

  /** Compact a persisted IVF-PQ index: rewrites the current
    * generation to one file per cell, physically DROPPING tombstoned
    * rows (meta rows := landed − deleted, deleted := 0), into a NEW
    * generation directory `g<N+1>` beside the live one — the
    * versioned-root swap (VERDICT r16 item 6): the meta pointer
    * flips only after the copy is row-count-verified, a reader that
    * planned against generation N keeps every file it listed until
    * the NEXT compact retires N, and a crash anywhere leaves either
    * the old meta pointing at intact old data or the new meta
    * pointing at verified new data — never a torn mix. Also the v1 →
    * v2 migration path: a root-layout index compacts into g<1> and
    * its root-level cells retire like any old generation. Provenance
    * (fingerprints, quantizer, rotation) is copied verbatim — the
    * serve result over the live rows is byte-identical. Refuses an
    * index whose data or tombstone counts drifted from the meta
    * (partial append / concurrent writer — compacting would bless
    * the corruption). Single-writer discipline is the caller's. */
  def compactIvfPqIndex(spark: SparkSession, path: String): Unit = {
    val meta = readIvfPqMeta(spark, path)
    val dataDir = ivfPqDataDir(path, meta)
    val tombDir = ivfPqTombDir(path, meta.gen)
    val data = Artifacts.scan(spark, dataDir)
    Artifacts.requireCounts(spark, data, meta.rows,
      tombDir, meta.deleted, path, "Similarity.compactIvfPqIndex")
    val newGen = meta.gen + 1
    val dest = s"$path/g$newGen"
    Artifacts.delete(spark, dest) // crashed prior try
    // one shuffle keyed on cell → one file per cell; hot cells split
    // at the production maxRecordsPerFile cap (cellPartitionedWriter)
    cellPartitionedWriter(
      Artifacts.maskTombstones(spark, data.df, tombDir))
      .option("partitionOverwriteMode", "static")
      .partitionBy("cell").mode("overwrite").parquet(dest)
    val copied = Artifacts.scan(spark, dest).rows
    require(copied == meta.live,
      s"Similarity.compactIvfPqIndex: compacted generation at $dest holds " +
        s"$copied rows, expected ${meta.live} — refusing the pointer flip; " +
        "the live generation is untouched")
    // the FLIP: readers planning from here on resolve g<N+1>; the
    // v2 meta is also the v1 → v2 migration
    writeIvfPqMeta(spark, path, meta.copy(rows = copied, deleted = 0L,
      gen = newGen))
    // retire everything OLDER than the just-replaced generation: the
    // replaced one (g<N>, or the v1 root cells) survives until the
    // next compact as the in-flight readers' grace window
    retireGenerations(spark, path, meta.gen)
    if (meta.version >= 2 && meta.gen >= 1) {
      // a v1-migrated index's original root cells retire once the
      // pointer has moved at least two generations past them
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(root)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
        .foreach(s => fs.delete(s.getPath, true))
    }
    Artifacts.refreshIndexPath(spark, path)
  }

  /** Deletes generations 0 until `gen` and their tombstones. */
  private def retireGenerations(spark: SparkSession, path: String,
                                gen: Long): Unit =
    (0L until gen).foreach { g =>
      Artifacts.delete(spark, s"$path/g$g")
      Artifacts.delete(spark, ivfPqTombDir(path, g))
    }

  // ── Blue/green quantizer retrain (VERDICT r17 item 3) ────────────
  //
  // The one maintenance operation drift eventually forces: the coarse
  // quantizer (and usually the codebooks with it) retrains on fresher
  // data and the whole index must re-encode under the new geometry.
  // buildIvfPqIndex rebuilds IN PLACE (it wipes the root first), so a
  // retrain through it takes the index offline and races any reader;
  // the generational machinery compaction already proves is the right
  // tool, so retrain writes the re-encoded corpus into generation N+1
  // BESIDE the live generation and flips the meta pointer — with the
  // NEW provenance fingerprints — only after the copy is row-count
  // verified. A reader that planned against generation N (a streaming
  // serve mid-trigger) keeps ITS quantizer's snapshot until the next
  // generation turnover: answers are before-or-after, never
  // mixed-quantizer (StreamDuringRetrainSpec pins it).

  def retrainIvfPqIndex(spark: SparkSession, corpus: DataFrame,
                        idCol: String, vecCol: String,
                        cents: KMeans.Centroids, model: PQModel,
                        path: String): Unit =
    retrainIvfPqIndexCore(spark, corpus, idCol, vecCol, identity, cents,
      model, path, rotationFp = None)

  /** The rotated twin: a retrain that also (or only) refreshes the OPQ
    * rotation — corpus re-rotates through the NEW rotation here, and
    * the flipped meta carries its fingerprint, so post-flip serves
    * must present the new artifact and pre-flip streams keep the old
    * space. */
  def retrainIvfPqIndexRotated(spark: SparkSession, corpus: DataFrame,
                               idCol: String, vecCol: String,
                               model: OpqIvfModel, path: String): Unit =
    retrainIvfPqIndexCore(spark, corpus, idCol, vecCol,
      v => rotateCol(v, model.rotation), model.cents, model.pq, path,
      rotationFp = Some(rotationFingerprint(model.rotation)))

  private def retrainIvfPqIndexCore(spark: SparkSession, corpus: DataFrame,
                                    idCol: String, vecCol: String,
                                    prep: Column => Column,
                                    cents: KMeans.Centroids, model: PQModel,
                                    path: String,
                                    rotationFp: Option[String]): Unit = {
    TopKAgg.requireLongCastableId(corpus, idCol, "Similarity.retrainIvfPqIndex")
    val meta = readIvfPqMeta(spark, path)
    requireV2Layout(meta, path, "Similarity.retrainIvfPqIndex")
    // the retrain takes the caller's CORPUS (the index stores only
    // codes — re-encoding under a new quantizer needs the floats), but
    // the current generation's TAKEDOWNS must survive it: a legal
    // delete cannot be silently resurrected because the caller's
    // corpus snapshot still contains the doomed rows. One broadcast
    // anti-join against the takedown-sized tombstone set.
    // metadata columns are part of the index's schema contract across
    // generations, exactly as for appends
    val extra = indexExtraCols(Artifacts.scan(spark, ivfPqDataDir(path, meta)).df,
      Set("id", "codes", "cell"))
    requireBatchCarriesMeta(corpus, extra, path,
      "Similarity.retrainIvfPqIndex")
    val newGen = meta.gen + 1
    val dest = s"$path/g$newGen"
    Artifacts.delete(spark, dest) // crashed prior try
    val src = Artifacts.maskTombstones(spark,
      corpus.select(col(idCol).cast("long").as("id") +:
        prep(VectorOps.toDouble(col(vecCol))).as("__v") +: extra.map(col): _*),
      ivfPqTombDir(path, meta.gen))
    // one file per cell per write + production file cap (the compact
    // posture — see buildIvfIndex; guide §6 small-files)
    cellPartitionedWriter(assignEncode(src, cents, model)
      .select(col("id") +: col("codes") +: col("cell") +: extra.map(col): _*))
      .option("partitionOverwriteMode", "static")
      .partitionBy("cell").mode("overwrite").parquet(dest)
    val landed = Artifacts.scan(spark, dest).rows
    // the FLIP: new generation, NEW provenance (quantizer + codebook +
    // rotation fingerprints), zero tombstones — readers planning from
    // here resolve the retrained geometry end to end; a crash BEFORE
    // this line leaves the old meta pointing at intact old data
    writeIvfPqMeta(spark, path, IvfPqMeta(IvfPqMetaVersion, landed,
      deleted = 0L, newGen, centsFingerprint(cents), cents,
      pqFingerprint(model), rotationFp))
    // same grace window as compaction: the replaced generation
    // survives one turnover for in-flight readers; older ones retire
    retireGenerations(spark, path, meta.gen)
    Artifacts.refreshIndexPath(spark, path)
  }

  // ── Persisted serving-budget sweep (VERDICT r17 item 5) ──────────
  //
  // The (nprobe, shortlist) recall/latency grid a deployer tunes with
  // is an empirical property OF ONE INDEX (its geometry, quantizer,
  // codebooks, rotation); keeping it in prose strands it. It persists
  // next to the index like every other artifact — bound by the same
  // provenance fingerprints, so a retrain/rebuild (new fingerprints)
  // invalidates the stored sweep LOUDLY instead of silently serving a
  // budget measured under dead geometry.

  val SweepFormatVersion = 1

  /** Persist a measured serving sweep under the index root: grid rows,
    * then the Artifacts meta (the index's provenance fingerprints and
    * the row count) at `_graft_sweep/meta`. */
  def saveServingSweep(spark: SparkSession, indexPath: String,
                       sweep: Seq[ServingBudget]): Unit = {
    require(sweep.nonEmpty, "saveServingSweep: empty sweep")
    val meta = readIvfPqMeta(spark, indexPath)
    import spark.implicits._
    sweep.map(b => (b.nprobe, b.shortlist, b.recall, b.seconds))
      .toDF("nprobe", "shortlist", "recall", "seconds")
      .repartition(1).write.mode("overwrite")
      .parquet(s"$indexPath/_graft_sweep/grid")
    Artifacts.writeMeta(spark, s"$indexPath/_graft_sweep/meta",
      (SweepFormatVersion, meta.fingerprint, meta.pqFingerprint,
        meta.rotationFp.orNull, sweep.length.toLong),
      "version", "cents_fp", "pq_fp", "rotation_fp", "n_rows")
  }

  /** Load the index's own stored sweep (run AnnStress --sweep and
    * saveServingSweep first), refusing: the Artifacts meta refusals, a
    * grid row-count drift, or — the one that
    * matters operationally — provenance fingerprints that no longer
    * match the index's current meta (the index was retrained or
    * rebuilt since the sweep was measured; its numbers describe dead
    * geometry — re-run the sweep). */
  def loadServingSweep(spark: SparkSession, indexPath: String): Seq[ServingBudget] = {
    val im = readIvfPqMeta(spark, indexPath)
    val mr = Artifacts.readMeta(spark, s"$indexPath/_graft_sweep/meta",
      "serving sweep", 1 to SweepFormatVersion)
    require(mr.get[String]("cents_fp") == im.fingerprint
        && mr.get[String]("pq_fp") == im.pqFingerprint
        && Option(mr.get[String]("rotation_fp")) == im.rotationFp,
      s"stale serving sweep at $indexPath: it was measured under a " +
        "different quantizer/codebook/rotation than the index currently " +
        "serves (retrained or rebuilt since) — its recall/latency numbers " +
        "describe dead geometry; re-run the sweep and save it again")
    val rows = Artifacts.scan(spark, s"$indexPath/_graft_sweep/grid").df.collect()
    require(rows.length.toLong == mr.get[Long]("n_rows"),
      s"sweep grid at $indexPath holds ${rows.length} rows, meta says " +
        s"${mr.get[Long]("n_rows")} — partial write; re-save the sweep")
    rows.map(r => ServingBudget(r.getAs[Int]("nprobe"),
        r.getAs[Int]("shortlist"), r.getAs[Double]("recall"),
        r.getAs[Double]("seconds")))
      .sortBy(b => (b.nprobe, b.shortlist)).toSeq
  }

  /** The deployer's one-call knob: pick the cheapest qualifying
    * (nprobe, shortlist) from the index's OWN stored sweep. None when
    * no swept point reaches the target — see servingBudgetOrAdvice
    * for the loud variant that names the next lever. */
  def pickServingBudgetIndexed(spark: SparkSession, indexPath: String,
                               targetRecall: Double): Option[ServingBudget] =
    pickServingBudget(loadServingSweep(spark, indexPath), targetRecall)

  /** pickServingBudget with the unreachable-target diagnosis surfaced
    * (VERDICT r17 item 5): Left names the best recall the sweep ever
    * reached and the measured next lever — code bytes before probe
    * count (the m=8→16 record reached 0.908 at an unchanged latency
    * band, where nprobe/shortlist alone plateaued; BASELINE round 17). */
  def servingBudgetOrAdvice(sweep: Seq[ServingBudget],
                            targetRecall: Double): Either[String, ServingBudget] =
    pickServingBudget(sweep, targetRecall).toRight {
      val best = sweep.maxBy(b => (b.recall, -b.seconds))
      f"no swept (nprobe, shortlist) reaches recall $targetRecall%.3f — " +
        f"best measured is ${best.recall}%.3f at nprobe=${best.nprobe}/" +
        f"shortlist=${best.shortlist} (${best.seconds}%.2f s). Widening " +
        "nprobe/shortlist past the swept grid buys little once the curve " +
        "plateaus; the measured next lever is the PQ code budget (m — " +
        "8→16 bytes reached recall 0.908 at the same latency band on the " +
        "1M stress), then retrain, re-sweep, and save the new grid"
    }

  /** The indexed serve's freshness contract, shared by every consumer
    * of a persisted IVF-PQ index (indexed top-k, indexed rerank,
    * streaming serve): both provenance fingerprints and (verifyRows)
    * the footer row count, refused loudly with the diagnosis. Returns
    * the meta and the current generation's data scan — the files the
    * row count counted. */
  private def requireFreshIvfPqIndex(spark: SparkSession, indexPath: String,
                                     cents: KMeans.Centroids, model: PQModel,
                                     verifyRows: Boolean,
                                     rotationFp: Option[String] = None)
      : (IvfPqMeta, DataFrame) = {
    val meta = readIvfPqMeta(spark, indexPath)
    require(meta.fingerprint == centsFingerprint(cents),
      s"stale IVF-PQ index at $indexPath: the coarse quantizer passed to the " +
        "query does not match the one the index was built with — probing the " +
        "wrong cells returns silently wrong neighbors; rebuild or query with " +
        "the index's own centroids")
    require(meta.pqFingerprint == pqFingerprint(model),
      s"stale IVF-PQ index at $indexPath: the PQ codebook passed to the query " +
        "does not match the one the codes were written with — ADC over " +
        "foreign codes is silently wrong; rebuild or load the paired codebook")
    requireRotationMatch(meta, rotationFp, indexPath,
      "Similarity.ivfPqTopKIndexed")
    // belt-and-braces for hand-assembled metas: a residual codebook's
    // stored quantizer fingerprint must be the index's own (build
    // enforces this transitively through encodeForIndex + the two
    // checks above, but a forged meta should fail HERE, with the
    // residual diagnosis, not downstream as wrong neighbors)
    model.residualTo.foreach { rt =>
      require(rt == meta.fingerprint,
        s"stale IVF-PQ index at $indexPath: the residual PQ codebook is " +
          "paired with a different coarse quantizer than the index's — " +
          "query residuals would subtract the wrong centroids; rebuild")
    }
    val data = Artifacts.scan(spark, ivfPqDataDir(indexPath, meta))
    if (verifyRows) Artifacts.requireCounts(spark, data, meta.rows,
      ivfPqTombDir(indexPath, meta.gen), meta.deleted, indexPath,
      "Similarity.ivfPqTopKIndexed")
    (meta, data.df)
  }

  /** The live (tombstone-masked) code table of a persisted IVF-PQ
    * index — (id, codes, cell) from the current generation; the
    * public read surface for audits and tools that want the raw
    * codes rather than a serve. */
  def ivfPqIndexCodes(spark: SparkSession, path: String): DataFrame = {
    val meta = readIvfPqMeta(spark, path)
    ivfPqLiveScan(spark, path, meta,
      Artifacts.scan(spark, ivfPqDataDir(path, meta)).df)
  }

  /** The current generation's candidate scan `data` with tombstoned
    * rows masked out (Artifacts.maskTombstones) — what every indexed
    * serve ranks against. `filter`
    * (round 18 — filtered ANN) is the caller's metadata predicate over
    * the index's metaCols, applied directly on the scan so Catalyst
    * pushes it into the parquet reader BEFORE the mask, the cell join,
    * and ADC. */
  private def ivfPqLiveScan(spark: SparkSession, indexPath: String,
                            meta: IvfPqMeta, data: DataFrame,
                            filter: Option[Column] = None): DataFrame =
    Artifacts.maskTombstones(spark, filter.fold(data)(data.filter),
      ivfPqTombDir(indexPath, meta.gen))

  /** IVF-PQ top-k against a PERSISTED index: probe cells rank
    * driver-side against the meta's stored centroids, prune the scan
    * to `cell IN (...)` parquet partitions, and rank entirely on the
    * stored codes — the in-memory `ivfPqTopK`'s ivfPqServe, so results
    * match it bit-for-bit. Refuses to serve when the passed quantizer
    * or codebook fingerprint differs from what the index was built
    * under, or (verifyRows) when the footer row count drifted from the
    * meta. `filter` (filtered ANN) is a predicate over the index's
    * metaCols, applied inside the pruned scan before ADC. Runs
    * ivfPqIndexedServe. */
  def ivfPqTopKIndexed(spark: SparkSession, indexPath: String,
                       probes: DataFrame, probeIdCol: String,
                       probeVecCol: String, cents: KMeans.Centroids,
                       model: PQModel, nprobe: Int, k: Int,
                       verifyRows: Boolean = true,
                       maxProbes: Int = 10000,
                       filter: Option[Column] = None): DataFrame =
    ivfPqIndexedServe(spark, indexPath, probes, probeIdCol, probeVecCol,
      identity, cents, model, nprobe, k, verifyRows, maxProbes, filter,
      rotationFp = None, "Similarity.ivfPqTopKIndexed")._2

  /** The persisted IVF-PQ serve behind every batch indexed entry, plain
    * and rotated: the freshness gate (requireFreshIvfPqIndex, with
    * `rotationFp` the OPQ provenance), the probe pin (boundedProbes,
    * with `prep` mapping raw probes into the index's space before the
    * pin), then ivfPqServe over the pruned live scan. Returns the pin with
    * the top-k, so the rerank entries' exact stage reads the same
    * probe rows. */
  private def ivfPqIndexedServe(spark: SparkSession, indexPath: String,
                                probes: DataFrame, probeIdCol: String,
                                probeVecCol: String, prep: Column => Column,
                                cents: KMeans.Centroids, model: PQModel,
                                nprobe: Int, k: Int, verifyRows: Boolean,
                                maxProbes: Int, filter: Option[Column],
                                rotationFp: Option[String], where: String)
      : (DataFrame, DataFrame) = {
    TopKAgg.requireLongCastableId(probes, probeIdCol, where)
    val (meta, data) = requireFreshIvfPqIndex(spark, indexPath, cents, model,
      verifyRows, rotationFp)
    val pinned = boundedProbes(probes, probeIdCol, probeVecCol, prep, maxProbes,
      ivfPqProbeBytes(model, nprobe), where)
    (pinned, ivfPqServe(ivfPqLiveScan(spark, indexPath, meta, data, filter),
      prune = true, pinned, cents, model, nprobe, k))
  }

  /** Shortlist + exact re-rank served from a PERSISTED index — the
    * complete production query path at rest: cells prune the stored
    * code table's partitions, ADC over the STORED codes picks a
    * `shortlist` of candidates per probe (no assignment, no encode,
    * no float read — unlike `ivfPqTopKRerank`, which is the in-memory
    * audit path and re-assigns + re-encodes the whole corpus inside
    * every query; at the 1M-vector stress that difference is 57 s vs
    * the indexed serve's seconds), and only probes × shortlist rows
    * join the FLOAT table for the exact-cosine final top-k. The
    * filter applies inside the shortlist stage, so the shortlist holds
    * `shortlist` QUALIFYING candidates. `corpus` is the float table
    * the index was built from. Runs ivfPqIndexedServe, then
    * rerankShortlist. Output: topKCosine's shape,
    * (probe_id, vec_id, rank, sim) — identical to `ivfPqTopKRerank`
    * over the same corpus/model, which is the oracle's replay. */
  def ivfPqTopKIndexedRerank(spark: SparkSession, indexPath: String,
                             corpus: DataFrame, idCol: String, vecCol: String,
                             probes: DataFrame, probeIdCol: String,
                             probeVecCol: String, cents: KMeans.Centroids,
                             model: PQModel, nprobe: Int, k: Int,
                             shortlist: Int, verifyRows: Boolean = true,
                             maxProbes: Int = 10000,
                             filter: Option[Column] = None): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    rerankShortlist(corpus, idCol, vecCol, ivfPqIndexedServe(spark, indexPath,
      probes, probeIdCol, probeVecCol, identity, cents, model, nprobe,
      shortlist, verifyRows, maxProbes, filter, rotationFp = None,
      "Similarity.ivfPqTopKIndexedRerank"), k)
  }

  /** IVF-PQ serving of a STREAMING probe relation against a persisted
    * index — the continuous-query twin of `ivfPqTopKIndexed` (VERDICT
    * r14 item 7), for probe vectors arriving from Kafka/files rather
    * than sitting in a table. The batch path ranks probe cells
    * driver-side from a collect a streaming relation cannot offer, so
    * here the nprobe cell ranking runs ROWWISE on the stream from a
    * plan-literal centroid set: per probe, sort the (dist, cid) pairs
    * ascending and keep nprobe — dist computed as sqrt(sqDist), the
    * bit-identical sequential fold `nearestCells`/`euclideanLocal`
    * uses, and array_sort over the (d, cid) struct is exactly its
    * (dist asc, cid asc) order, so cell selection matches the batch
    * serve bit for bit. Candidates then arrive through a
    * stream-static equi-join on `cell` against the index scan, ADC
    * runs per candidate row from the plan-literal codebook (identical
    * arithmetic to every other PQ path), and ONE streaming
    * aggregation keeps the per-probe top-k — run in COMPLETE output
    * mode; state is one k-slot buffer per probe ever seen (probes·k
    * rows), no watermark needed because the serve is
    * per-probe-independent.
    *
    * Scale shape: the streaming side never collects and never
    * broadcasts — `boundedProbes`' driver budget does not apply
    * because nothing probe-sized leaves the executors; per-probe cost
    * is the same nprobe-cells candidate scan as the batch serve. The
    * static index side is re-planned per micro-batch WITHOUT cell
    * pruning (the probed cells live in stream rows, so no static
    * `cell IN (...)` predicate exists to push down) — the right trade
    * when the index is RAM/cache-resident, which is the
    * latency-serving deployment this topology exists for; at
    * cold-storage corpus scale, production instead serves each
    * micro-batch through `foreachBatch` → `ivfPqTopKIndexed` and
    * keeps the cell-pruned scan (each batch's probes are a bounded
    * batch relation, so the batch path applies verbatim). Freshness
    * gates (both fingerprints + row count) are the indexed serve's,
    * checked once at plan-build time.
    *
    * Output per completed trigger: (probe_id, vec_id, rank, adist) —
    * the batch serve's columns (the same rankTail), so the completed
    * sink table equals `ivfPqTopKIndexed` over the fed probes row for
    * row. Runs ivfPqTopKStreamCore. */
  def ivfPqTopKStream(spark: SparkSession, indexPath: String,
                      probes: DataFrame, probeIdCol: String,
                      probeVecCol: String, cents: KMeans.Centroids,
                      model: PQModel, nprobe: Int, k: Int,
                      verifyRows: Boolean = true,
                      filter: Option[Column] = None): DataFrame =
    ivfPqTopKStreamCore(spark, indexPath, probes, probeIdCol, probeVecCol,
      identity, cents, model, nprobe, k, verifyRows, rotationFp = None,
      filter)

  /** The streaming twin of ivfPqTopKIndexedRotated: probes arrive RAW
    * on the stream and rotate ROWWISE (a pure projection — fully
    * streaming-safe) through the same kernel the build used, before
    * cell ranking and ADC; refuses an unrotated or differently-
    * rotated index exactly like the batch entry. */
  def ivfPqTopKStreamRotated(spark: SparkSession, indexPath: String,
                             probes: DataFrame, probeIdCol: String,
                             probeVecCol: String, model: OpqIvfModel,
                             nprobe: Int, k: Int,
                             verifyRows: Boolean = true,
                             filter: Option[Column] = None): DataFrame =
    ivfPqTopKStreamCore(spark, indexPath, probes, probeIdCol, probeVecCol,
      v => rotateCol(v, model.rotation), model.cents, model.pq, nprobe, k,
      verifyRows, rotationFp = Some(rotationFingerprint(model.rotation)),
      filter)

  private def ivfPqTopKStreamCore(spark: SparkSession, indexPath: String,
                                  probes: DataFrame, probeIdCol: String,
                                  probeVecCol: String, prep: Column => Column,
                                  cents: KMeans.Centroids,
                                  model: PQModel, nprobe: Int, k: Int,
                                  verifyRows: Boolean,
                                  rotationFp: Option[String],
                                  filter: Option[Column] = None): DataFrame = {
    // same loud refusal as every batch sibling (review r15): without
    // it a non-long-castable probe id casts to NULL, the self-match
    // filter then drops every candidate row for that probe, and the
    // sink is silently incomplete instead of erroring. Schema-only
    // check, so it is streaming-safe.
    TopKAgg.requireLongCastableId(probes, probeIdCol,
      "Similarity.ivfPqTopKStream")
    val (meta, data) = requireFreshIvfPqIndex(spark, indexPath, cents, model,
      verifyRows, rotationFp)
    require(nprobe >= 1 && nprobe <= cents.length,
      s"Similarity.ivfPqTopKStream: nprobe=$nprobe outside 1..${cents.length}")
    val centsL = typedlit(
      cents.sortBy(_._1).toSeq.map { case (cid, v) => (cid, v.toSeq) })
    val rankedCells = slice(array_sort(transform(centsL, c => struct(
      sqrt(VectorOps.sqDist(col("__pv"), c.getField("_2"))).as("d"),
      c.getField("_1").as("cid")))), 1, nprobe)
    val exploded = probes
      .select(col(probeIdCol).cast("long").as("probe_id"),
        prep(VectorOps.toDouble(col(probeVecCol))).as("__pv"))
      .select(col("probe_id"), col("__pv"),
        explode(rankedCells).as("__pc"))
      .select(col("probe_id"), col("__pv"), col("__pc.cid").as("cell"))
    // residual mode: replace the probe vector with the per-(probe,
    // cell) query residual q − c(cell) BEFORE the index join — one
    // native subtraction per (probe, cell) row, probes × nprobe of
    // them, never per candidate; bit-identical doubles to the batch
    // serve's driver-side subtraction (IEEE a − b is deterministic
    // everywhere), so the completed sink still equals ivfPqTopKIndexed
    // over the fed probes row for row.
    val probed = if (!model.residual) exploded
      else exploded.select(col("probe_id"),
        cellResidualCol(col("__pv"), col("cell"), cents).as("__pv"),
        col("cell"))
    // the static side resolves the CURRENT generation once at plan
    // time and keeps that snapshot (tombstones included) for the
    // stream's lifetime — a compact flipping the pointer mid-stream
    // retires this generation only at the compact AFTER that, so one
    // full compact cycle is the query's documented grace window
    // (StreamDuringCompactSpec pins the before-or-after contract).
    // The same snapshot rule applies to DELETES: tombstones appended
    // mid-stream are invisible to this query (its tombstone file
    // listing is plan-time-fixed), so an in-flight stream keeps
    // serving a just-deleted id until it re-plans — pinned in
    // StreamDuringCompactSpec. A production takedown therefore
    // restarts long-lived serving streams (or serves through
    // foreachBatch → ivfPqTopKIndexed, which re-plans per
    // micro-batch and picks the tombstones up immediately).
    val idx = ivfPqLiveScan(spark, indexPath, meta, data, filter)
      .select("id", "cell", "codes")
    rankTail(probed.join(idx, Seq("cell"))
      .filter(col("id") =!= col("probe_id"))
      .select(col("probe_id"), col("id").as("__id"),
        adcDist(col("codes"), col("__pv"), model).as("__s")), k, adc = true)
  }

  /** One row of a measured serving-budget sweep: the recall and
    * wall-clock a (nprobe, shortlist) pair achieved on a
    * representative corpus (AnnStress --sweep on the planted 1M
    * stress records one of these per grid point in BASELINE.md). */
  final case class ServingBudget(nprobe: Int, shortlist: Int,
                                 recall: Double, seconds: Double)

  /** The knob a deployer actually wants (VERDICT r16 item 5): from a
    * recorded recall/latency sweep, the CHEAPEST (nprobe, shortlist)
    * meeting a target recall — minimum measured seconds, ties broken
    * to the smaller (nprobe, shortlist) since both bound work at any
    * corpus size. None when no swept point reaches the target (caller
    * must widen the sweep or lower the bar — silently serving the
    * best-available recall would defeat the target's point).
    * Driver-side over a grid-sized table; deterministic. */
  def pickServingBudget(sweep: Seq[ServingBudget],
                        targetRecall: Double): Option[ServingBudget] =
    sweep.filter(_.recall >= targetRecall)
      .sortBy(b => (b.seconds, b.nprobe, b.shortlist)).headOption

  /** Recall@k of an approximate ANN result against the exact result —
    * the eval harness every index deserves before it ships: feed both
    * relations (same (probe, hit-id) shape, e.g. ivfTopK vs
    * topKCosine, pqTopK vs topKCosine) and get per-probe overlap.
    * Recall is |approx ∩ exact| / |exact| — denominator from the
    * EXACT side, so an approximate index that returns fewer than k
    * hits (pruned cells) is penalized, not excused.
    *
    * Scale shape: both inputs are probe-bounded (≤ probes·k rows) —
    * one inner join on (probe, id) + one per-probe count, trivially
    * small next to the searches that produced them. All counts exact
    * longs; recall is one division.
    * Output: (probeCol, n_exact, n_hit, recall). */
  def annRecall(approx: DataFrame, exact: DataFrame,
                probeCol: String = "probe_id",
                idCol: String = "vec_id"): DataFrame = {
    val a = approx.select(col(probeCol), col(idCol))
    val e = exact.select(col(probeCol), col(idCol))
    val hits = a.join(e, Seq(probeCol, idCol))
      .groupBy(col(probeCol)).agg(count(lit(1)).cast("long").as("n_hit"))
    e.groupBy(col(probeCol)).agg(count(lit(1)).cast("long").as("n_exact"))
      .join(hits, Seq(probeCol), "left")
      .select(col(probeCol), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_exact").cast("double")).as("recall"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    * of two ranked retrieval lists — the standard hybrid-search merge
    * (sparse lexical list + dense embedding list) whose only inputs
    * are RANKS, so engines that disagree in score scale still fuse
    * identically. Each list contributes 1/(kConst + rank) for items
    * it ranked (items missing from a list contribute 0 from it);
    * fused = sum of contributions; output = per-query top-k by
    * (fused DESC, id ASC).
    *
    * Determinism: contributions are doubles computed from exact
    * integer ranks — bit-identical cross-engine; equal fused scores
    * (e.g. permuted rank pairs — FP addition is commutative) break
    * by id. kConst=60 is the paper's constant.
    *
    * Scale shape: ONE full-outer hash join on (query, id) — both
    * lists are already top-bounded by their producers, so the join
    * input is O(queries · k), not corpus-sized — then a window
    * PARTITIONED by query over ≤ 2k rows per query. The corpus never
    * enters this operator.
    *
    * Inputs: DataFrames with (qidCol, idCol, rankCol) where rank is
    * 1-based within each qid. Output: (qidCol, idCol, rrf, rank). */
  def rrfFuse(a: DataFrame, b: DataFrame, qidCol: String, idCol: String,
              rankCol: String = "rank", kConst: Int = 60,
              topK: Int = 20): DataFrame = {
    require(kConst >= 1, s"kConst must be >= 1, got $kConst")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val aa = a.select(col(qidCol), col(idCol), col(rankCol).cast("long").as("__ra"))
    val bb = b.select(col(qidCol), col(idCol), col(rankCol).cast("long").as("__rb"))
    val fused = aa.join(bb, Seq(qidCol, idCol), "full_outer")
      .select(col(qidCol), col(idCol),
        (coalesce(lit(1.0) / (lit(kConst.toDouble) + col("__ra").cast("double")), lit(0.0))
          + coalesce(lit(1.0) / (lit(kConst.toDouble) + col("__rb").cast("double")), lit(0.0)))
          .as("rrf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol)).orderBy(col("rrf").desc, col(idCol))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
  }

  /** Greedy k-center coreset selection (Gonzalez 1985, the classic
    * 2-approximation for max-min facility placement): seed with the
    * lowest id, then k-1 times add the point FARTHEST (max min
    * squared distance, ties to the lower id) from the selected set.
    * The training-data read: pick k maximally-diverse exemplars from
    * a candidate pool — coverage-maximizing sampling, the opposite
    * pole from keep-best dedup.
    *
    * Exactness: distances are the same SqDistExpr doubles the K-Means
    * family hash-matches against DuckDB; min-over-selected and argmax
    * are order-independent / id-tie-broken, so the selected SEQUENCE
    * is a pure function of the pool and the oracle replays it with a
    * recursive CTE over a pairwise distance matrix.
    *
    * Scale shape: the running min-dist column updates INCREMENTALLY —
    * each round one map-only pass computing sqDist against the single
    * newly-selected vector (a plan literal) + a TakeOrdered(1) argmax;
    * never a pairwise matrix, never a re-scan over all k selected.
    * O(k · n) distance evaluations total, k driver collects of one
    * row each. The pool is the caller's pre-sampled candidate set
    * (coreset selection runs on a pool, not the raw corpus).
    *
    * Output: (step 0..k-1 in selection order, id, radius) where
    * radius is the point's min-dist at selection time (the Gonzalez
    * covering-radius sequence; 0.0 for the seed). */
  def kCenterGreedy(df: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    require(k >= 1 && k <= 1024, s"k must be in [1, 1024], got $k")
    TopKAgg.requireLongCastableId(df, idCol, "Similarity.kCenterGreedy")
    val sp = df.sparkSession
    import sp.implicits._
    val cand = df.select(col(idCol).cast("long").as("id"),
      VectorOps.toDouble(col(vecCol)).as("v"))
    val seed = cand.orderBy(col("id")).limit(1).collect()
    require(seed.nonEmpty, "kCenterGreedy on an empty pool")
    val seedId = seed(0).getLong(0)
    var picked = Vector((0L, seedId, 0.0))
    var state = cand.filter(col("id") =!= seedId)
      .withColumn("mind",
        VectorOps.sqDist(col("v"), typedlit(seed(0).getSeq[Double](1))))
      .localCheckpoint(eager = true)
    var step = 1
    while (step < k && !state.isEmpty) {
      val next = state.orderBy(col("mind").desc, col("id")).limit(1).collect()(0)
      picked :+= ((step.toLong, next.getLong(0), next.getDouble(2)))
      state = state.filter(col("id") =!= next.getLong(0))
        .withColumn("mind", least(col("mind"),
          VectorOps.sqDist(col("v"), typedlit(next.getSeq[Double](1)))))
        .localCheckpoint(eager = true)
      step += 1
    }
    picked.toDF("step", "id", "radius")
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998): from a scored candidate set, greedily select k
    * items maximizing λ·relevance − (1−λ)·max-similarity-to-selected
    * — the diversity-aware top-k that keeps a near-duplicate of an
    * already-picked result from wasting a slot. First pick = argmax
    * relevance; ties always break to the lower id.
    *
    * Determinism: rel comes from the caller (e.g. topKCosine's sim —
    * already cross-engine bit-exact), pairwise sims are
    * VectorOps.cosine doubles, and max-over-selected is
    * order-independent, so the selected SEQUENCE is a pure function
    * of the candidates; the oracle replays the loop as a recursive
    * CTE. Use a λ exactly representable in binary (0.5, 0.25, 0.75)
    * if bit-parity with a replaying oracle matters.
    *
    * Scale shape: same incremental discipline as kCenterGreedy —
    * the max-sim column updates against ONE new plan-literal vector
    * per round (map-only pass + TakeOrdered(1)); no pairwise matrix.
    * Candidates are top-bounded by the producing retrieval stage, so
    * n is small by construction; k driver collects of one row.
    *
    * Output: (step 0..k-1 in selection order, id, score) — score is
    * rel for the seed pick, the MMR objective thereafter. */
  def mmrSelect(cand: DataFrame, idCol: String, vecCol: String,
                relCol: String, k: Int, lambda: Double = 0.5): DataFrame = {
    require(k >= 1 && k <= 1024, s"k must be in [1, 1024], got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0, 1], got $lambda")
    TopKAgg.requireLongCastableId(cand, idCol, "Similarity.mmrSelect")
    val sp = cand.sparkSession
    import sp.implicits._
    val c = cand.select(col(idCol).cast("long").as("id"),
      VectorOps.toDouble(col(vecCol)).as("v"), col(relCol).cast("double").as("rel"))
    val first = c.orderBy(col("rel").desc, col("id")).limit(1).collect()
    require(first.nonEmpty, "mmrSelect on an empty candidate set")
    var picked = Vector((0L, first(0).getLong(0), first(0).getDouble(2)))
    var state = c.filter(col("id") =!= first(0).getLong(0))
      .withColumn("maxsim",
        VectorOps.cosine(col("v"), typedlit(first(0).getSeq[Double](1))))
      .localCheckpoint(eager = true)
    var step = 1
    while (step < k && !state.isEmpty) {
      val next = state
        .withColumn("score",
          lit(lambda) * col("rel") - lit(1.0 - lambda) * col("maxsim"))
        .orderBy(col("score").desc, col("id")).limit(1).collect()(0)
      picked :+= ((step.toLong, next.getLong(0), next.getDouble(4)))
      state = state.filter(col("id") =!= next.getLong(0))
        .withColumn("maxsim", greatest(col("maxsim"),
          VectorOps.cosine(col("v"), typedlit(next.getSeq[Double](1)))))
        .localCheckpoint(eager = true)
      step += 1
    }
    picked.toDF("step", "id", "score")
  }

  /** k-NN label prediction: classify each probe by majority vote among
    * its k exact-cosine nearest labeled neighbors (Cover & Hart 1967,
    * the zero-training baseline every embedding-quality audit starts
    * from — "do the labels cluster in this embedding space at all").
    * Vote = plain neighbor COUNT per label (exact longs, not
    * sim-weighted doubles — the tie-break story stays integer);
    * winner = (votes desc, label asc), a total order.
    *
    * Scale shape: topKCosine's bounded partial agg (probes broadcast,
    * ≤ k pairs per probe per task), then the probes×k neighbor table —
    * tiny — joins the corpus' (id, label) projection and two
    * probe-sized aggregates finish it. The corpus is scanned once,
    * never shuffled. Output: (probe_id, pred_label, votes). */
  def knnPredict(corpus: DataFrame, idCol: String, vecCol: String,
                 labelCol: String, probes: DataFrame, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = topKCosine(corpus, idCol, vecCol, probes, idCol, vecCol, k)
    val labels = corpus.select(col(idCol).cast("long").as("vec_id"),
      col(labelCol).as("__lbl"))
    val votes = top.join(labels, Seq("vec_id"))
      .groupBy(col("probe_id"), col("__lbl").as("label"))
      .agg(count(lit(1)).cast("long").as("votes"))
    votes
      .withColumn("__rn", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("votes").desc, col("label"))))
      .filter(col("__rn") === 1)
      .select(col("probe_id"), col("label").as("pred_label"), col("votes"))
  }

  /** Signed random projection (Achlioptas 2003's database-friendly
    * ±1 Johnson-Lindenstrauss matrix): project each embedding onto
    * outDim pseudo-random ±1 directions — the cheap dimensionality
    * cut before clustering or coarse ANN when PCA's data-dependent
    * fit is overkill. Signs are md5-derived plan literals
    * (planeCoord's determinism contract: hash of "rp:j:i" parity), so
    * the matrix ships inside the plan — no side input, no shuffle,
    * and the oracle regenerates it bit-for-bit.
    *
    * Rowwise codegen only: outDim native DotExpr dots against
    * literal sign vectors per row. No 1/√outDim scaling — keeping
    * coordinates as exact ±1 sums preserves the bit-parity contract;
    * distances scale uniformly, which no downstream rank cares about.
    * Output: (id, proj array<double>). */
  def projSign(j: Int, i: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp:$j:$i".getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
  }

  /** Contrastive triplet mining: for each probe, the nearest
    * SAME-label neighbor (positive) and the nearest DIFFERENT-label
    * neighbor (hard negative) from its exact cosine top-k — the
    * (anchor, positive, negative) rows a triplet/InfoNCE embedding
    * trainer consumes, with the negative mined hard (closest
    * impostor) rather than sampled at random. Probes with no
    * same-label (or no different-label) row inside top-k are DROPPED
    * — a random-positive fallback would silently train on noise.
    *
    * Scale shape: topKCosine's bounded partial agg (probes
    * broadcast), then the probes×k neighbor table joins the corpus
    * (id, label) projection and two probe-keyed row_number picks
    * over probe-sized relations. Output: (probe_id, pos_id, pos_sim,
    * neg_id, neg_sim). */
  def mineTriplets(corpus: DataFrame, idCol: String, vecCol: String,
                   labelCol: String, probes: DataFrame, k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = topKCosine(corpus, idCol, vecCol, probes, idCol, vecCol, k)
    val labels = corpus.select(col(idCol).cast("long").as("vec_id"),
      col(labelCol).as("__nl"))
    val probeLabels = probes.select(col(idCol).cast("long").as("probe_id"),
      col(labelCol).as("__pl"))
    val scored = top.join(labels, Seq("vec_id"))
      .join(broadcast(probeLabels), Seq("probe_id"))
    def pick(sameLabel: Boolean, idAs: String, simAs: String) = {
      val side = scored.filter(if (sameLabel) col("__nl") === col("__pl")
        else col("__nl") =!= col("__pl"))
      side.withColumn("__rn", row_number().over(
          Window.partitionBy("probe_id").orderBy(col("rank"))))
        .filter(col("__rn") === 1)
        .select(col("probe_id"), col("vec_id").as(idAs), col("sim").as(simAs))
    }
    pick(sameLabel = true, "pos_id", "pos_sim")
      .join(pick(sameLabel = false, "neg_id", "neg_sim"), Seq("probe_id"))
  }

  def randomProjection(df: DataFrame, idCol: String, vecCol: String,
                       inDim: Int, outDim: Int): DataFrame = {
    require(inDim >= 1 && inDim <= 4096, s"inDim must be in [1, 4096], got $inDim")
    require(outDim >= 1 && outDim <= inDim,
      s"outDim must be in [1, inDim], got $outDim")
    val v = VectorOps.toDouble(col(vecCol))
    val comps = (0 until outDim).map { j =>
      val signs = (0 until inDim).map(i => projSign(j + 1, i + 1))
      VectorOps.dot(v, typedlit(signs))
    }
    df.select(col(idCol), array(comps: _*).as("proj"))
  }
}
