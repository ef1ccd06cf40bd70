package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** The one on-disk protocol behind every persisted model and index.
  *
  * An artifact is its data directories plus ONE parquet "meta" row —
  * an Int `version` and the kind's own fields — written LAST as the
  * commit marker: no readable meta, no artifact. Indexes add a
  * tombstone set (ids deleted but still physically present until the
  * next compact) and one integrity gate that counts the data rows and
  * the tombstones against the meta and refuses on drift. Operators
  * read and write this protocol only through here; each keeps its own
  * fields, its own version rules and its own semantic checks.
  *
  * Single-writer discipline is the caller's (standard for bulk-built
  * serving artifacts); the meta is the detector, not a lock. */
private[graft] object Artifacts {

  /** Writes `row` as the one-row meta at `dir`: one file, overwrite. */
  def writeMeta[T <: Product : TypeTag](spark: SparkSession, dir: String,
                                        row: T, cols: String*): Unit = {
    import spark.implicits._
    commit(Seq(row).toDF(cols: _*), dir)
  }

  /** Copies a meta byte-for-byte in content (a compaction moves the
    * layout, never the provenance or the format version). */
  private def copyMeta(spark: SparkSession, from: String, to: String): Unit =
    commit(spark.read.parquet(from), to)

  private def commit(meta: DataFrame, dir: String): Unit =
    meta.coalesce(1).write.mode("overwrite").parquet(dir)

  /** A decoded meta row and its format version. */
  final case class Meta(version: Int, row: Row) {
    def get[T](field: String): T = row.getAs[T](field)

    /** `field` in metas of format `v` and newer; `default` in older
      * ones, which predate the field (the tolerant-read convention). */
    def since[T](v: Int, field: String, default: T): T =
      if (version >= v) get[T](field) else default
  }

  /** Reads the meta of a `kind` artifact at `dir`, refusing a missing
    * meta, anything but exactly one row, and a version outside
    * `versions`. Only an AnalysisException (path missing, not
    * parquet) becomes the missing-artifact refusal: a transient
    * storage or permission error surfaces as itself, never as a
    * "rebuild" diagnosis. */
  def readMeta(spark: SparkSession, dir: String, kind: String,
               versions: Range): Meta = {
    val rows =
      try spark.read.parquet(dir).collect()
      catch { case e: AnalysisException =>
        throw new IllegalArgumentException(
          s"no $kind at $dir (no readable meta: not a $kind, or its write " +
            s"never committed): ${e.getMessage}") }
    require(rows.length == 1,
      s"$kind meta at $dir has ${rows.length} rows, expected exactly 1")
    val version = rows(0).getAs[Int]("version")
    require(versions.contains(version),
      s"$kind format version $version at $dir; this build reads " +
        (if (versions.size == 1) s"version ${versions.start}"
         else s"versions ${versions.start} to ${versions.last}") +
        " — rebuild or re-save it with this build")
    Meta(version, rows(0))
  }

  /** The centroid column codec: (cid, vector) in cid order, stored as
    * array<struct<_1: int, _2: array<double>>>. */
  def encodeCents(cents: KMeans.Centroids): Seq[(Int, Seq[Double])] =
    cents.sortBy(_._1).toSeq.map { case (cid, v) => (cid, v.toSeq) }

  def decodeCents(meta: Meta, field: String): KMeans.Centroids =
    meta.get[scala.collection.Seq[Row]](field)
      .map(c => c.getInt(0) -> c.getSeq[Double](1).toArray).toArray

  private def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  def delete(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    ()
  }

  /** Invalidate Spark's cached plans and file-status listings under a
    * MUTATED index root — the same refresh Spark's own table INSERTs
    * perform. Without it, a consumer that cached a read of the index
    * (df.cache() over a serve, Dedup's internal registerCache) — or
    * merely re-reads the path through the session-shared file-status
    * cache — silently serves PRE-mutation rows after an append,
    * delete, or compact (caught live by IndexDeleteSpec: a compacted
    * MinHash index kept answering from the pre-compact cached scan).
    * Every index mutator calls this after its meta write. */
  def refreshIndexPath(spark: SparkSession, path: String): Unit =
    spark.catalog.refreshByPath(path)

  // ── Tombstones ───────────────────────────────────────────────────

  /** The tombstone directory of a root-layout index (float IVF,
    * MinHash): underscore-prefixed, so data scans at the root never
    * see it. */
  def rootTombDir(path: String): String = s"$path/_tomb"

  /** Tombstoned ids as (id) in the index's native id type, None when
    * none were ever written (existence-checked — no logged read
    * failure on the common no-deletes path). */
  private def tombstones(spark: SparkSession, tombDir: String): Option[DataFrame] =
    if (exists(spark, tombDir))
      Some(spark.read.parquet(tombDir).select(col("id")))
    else None

  private def tombstoneCount(spark: SparkSession, tombDir: String): Long =
    tombstones(spark, tombDir).fold(0L)(_.count())

  /** `data` without its tombstoned rows: one broadcast anti-join
    * against the takedown-sized set, none when no tombstones exist. */
  def maskTombstones(spark: SparkSession, data: DataFrame,
                     tombDir: String): DataFrame =
    tombstones(spark, tombDir).fold(data)(t =>
      data.join(broadcast(t), Seq("id"), "left_anti"))

  /** A batch id in the tombstone set refuses: its old row is still
    * physical until the next compact, so a re-append would leave the
    * id with a dead row, a live row and a tombstone, and the read-side
    * anti-join would silently drop BOTH rows. */
  def requireNotTombstoned(spark: SparkSession, batchIds: DataFrame,
                           tombDir: String, path: String,
                           where: String): Unit =
    tombstones(spark, tombDir).foreach { t =>
      val hit = t.join(batchIds.select(col("id")).distinct(), "id")
        .limit(1).count()
      require(hit == 0L,
        s"$where: the batch carries ids that are tombstoned (deleted, " +
          s"awaiting compaction) in the index at $path — appending now " +
          "would leave the id with a dead row, a live row, and a " +
          "tombstone, and the read-side anti-join would silently drop " +
          "BOTH rows; compact the index first, then re-append")
    }

  /** The drift diagnosis names the direction's remedy: tombstones
    * ahead of the meta are an interrupted delete, which a re-run heals;
    * tombstones behind it were lost and leave no record to heal from. */
  private def tombstoneDriftMsg(where: String, path: String,
                                metaDeleted: Long, actual: Long): String =
    if (actual > metaDeleted)
      s"$where: stale index at $path: meta records $metaDeleted " +
        s"tombstones, index holds $actual — interrupted delete; re-run the " +
        "delete (delete entries self-heal the meta from the tombstone data)"
    else
      s"$where: stale index at $path: meta records $metaDeleted " +
        s"tombstones, index holds only $actual — tombstone data was lost " +
        "or hand-edited; the takedown record cannot be reconstructed, " +
        "rebuild the index"

  /** The integrity gate of every verified serve and compact: the data
    * rows and the tombstones must both match the meta. The two counts
    * are independent read-only jobs and run concurrently. */
  def requireCounts(spark: SparkSession, data: DataFrame, rows: Long,
                    tombDir: String, deleted: Long, path: String,
                    where: String): Unit = {
    val (actual, tombs) = Similarity.concurrently2(
      data.count(), tombstoneCount(spark, tombDir))
    require(actual == rows,
      s"$where: stale index at $path: meta records $rows rows, index " +
        s"holds $actual — partial append or concurrent writer; rebuild")
    require(tombs == deleted, tombstoneDriftMsg(where, path, deleted, tombs))
  }

  /** Tombstone-delete `ids` (one `id` column) from an index: the
    * takedown every index shares. O(takedown) tombstone append; ids not
    * live (absent, or already tombstoned) are skipped, so a retry
    * cannot double-count. `commit(deleted)` writes the meta; it runs
    * AFTER the tombstone data, so a crash between the two leaves
    * tombstones ahead of the meta — detectably stale. On entry the
    * meta first catches up from the tombstone data (the source of
    * truth: every id in it was verified live before landing, and the
    * set is deduplicated by construction), so re-running an
    * interrupted delete heals it; tombstones behind the meta refuse. */
  def deleteIds(spark: SparkSession, ids: DataFrame, dataDir: String,
                tombDir: String, metaDeleted: Long, path: String,
                where: String)(commit: Long => Unit): Unit = {
    val actual = tombstoneCount(spark, tombDir)
    require(actual >= metaDeleted,
      tombstoneDriftMsg(where, path, metaDeleted, actual))
    if (actual > metaDeleted) commit(actual)
    // pin ONE instantiation of the id set: the live filter, the
    // tombstone write, and the meta count must agree
    val live = ids.distinct()
      .join(spark.read.parquet(dataDir).select(col("id")), "id")
    val doomed = tombstones(spark, tombDir).fold(live)(t =>
      live.join(t, Seq("id"), "left_anti")).localCheckpoint()
    try {
      val n = doomed.count()
      if (n > 0) {
        doomed.write.mode("append").parquet(tombDir)
        commit(actual + n)
      }
    } finally {
      org.apache.spark.sql.graftglue.ColumnGlue.unpersistLocalCheckpoint(doomed)
    }
  }

  /** Write-aside + swap compaction for the root-layout indexes — the
    * float IVF table (`dataSub = ""`) and the MinHash signature table
    * (`dataSub = "data"`), so the crash-window-sensitive swap ordering
    * lives in exactly one place. The live index is never read and
    * overwritten in place (overwrite deletes the source mid-read);
    * `rewrite` lands the compacted copy in a sibling root, the meta is
    * copied verbatim — or rewritten by `rewriteMeta(siblingRoot)` when
    * the compact drops tombstoned rows — the copy is row-count-verified
    * against `expectedCopied`, and the root swaps in via two renames:
    * metadata operations whose cost is independent of index size, and
    * a crash mid-swap leaves the old or the new root intact under a
    * detectable name, never a half-deleted mix. The caller runs the
    * integrity gate first. */
  def compactIndexRoot(spark: SparkSession, path: String, dataSub: String,
                       metaSubdir: String, expectedCopied: Long,
                       where: String, rewriteMeta: Option[String => Unit])(
      rewrite: (DataFrame, String) => Unit): Unit = {
    def data(root: String): String =
      if (dataSub.isEmpty) root else s"$root/$dataSub"
    val tmp = s"${path}__compacting"
    delete(spark, tmp)
    rewrite(spark.read.parquet(data(path)), data(tmp))
    // the meta lands in the side root before the swap, so a crash can
    // never leave a live root with a stale meta
    rewriteMeta.fold(copyMeta(spark, s"$path/$metaSubdir", s"$tmp/$metaSubdir"))(
      _(tmp))
    val copied = spark.read.parquet(data(tmp)).count()
    require(copied == expectedCopied,
      s"$where: compacted copy at $tmp holds $copied rows, expected " +
        s"$expectedCopied — refusing the swap; the live index is untouched")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val live = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(s"${path}__precompact")
    fs.delete(old, true)
    require(fs.rename(live, old), s"$where: could not move $path aside")
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), live),
      s"$where: could not move the compacted copy into place — the " +
        s"original index is preserved at $old; restore it by renaming back")
    fs.delete(old, true)
    refreshIndexPath(spark, path)
  }
}
