package graft.operators

import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetReadSupport}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types._

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
  * Bookkeeping runs on the driver and launches no Spark job: a meta
  * row is decoded from its parquet file, every count is a sum of
  * footer row counts, and every directory scan takes its schema from
  * a footer instead of Spark's schema-inference job. Footers are read
  * serially on the driver, one footer read per file (an object store
  * pays a ranged GET for each), over the file list Spark's own file
  * index makes. Writes — data and meta — are still Spark jobs.
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
    commit(scan(spark, from).df, to)

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
    * `versions`. The row is decoded on the driver from its parquet
    * file (equal to `spark.read.parquet(dir).collect().head`, schema
    * included) and the row count is the footers' sum; no Spark job
    * runs. Only a missing path, a directory with no parquet file, or
    * a file that is not parquet becomes the missing-artifact refusal:
    * a transient storage or permission error (an IOException)
    * surfaces as itself, never as a "rebuild" diagnosis. */
  def readMeta(spark: SparkSession, dir: String, kind: String,
               versions: Range): Meta = {
    def missing(why: String): Nothing = throw new IllegalArgumentException(
      s"no $kind at $dir (no readable meta: not a $kind, or its write " +
        s"never committed): $why")
    val io = new Footers(spark)
    if (!io.exists(dir)) missing(s"path does not exist: $dir")
    val files = fileIndex(spark, io, dir).allFiles()
    if (files.isEmpty) missing("no parquet file in the directory")
    val row = Using.Manager { use =>
      val readers = files.map { f =>
        try use(io.open(f))
        catch { case e: RuntimeException
            if !e.isInstanceOf[java.io.UncheckedIOException] =>
          missing(s"${f.getPath} is not parquet: ${e.getMessage}") }
      }
      val n = readers.map(_.getRecordCount).sum
      require(n == 1, s"$kind meta at $dir has $n rows, expected exactly 1")
      val r = readers.find(_.getRecordCount > 0).get
      sparkSchema(r.getFooter).fold(scan(spark, dir).df.collect().head)(
        decodeOne(r, _))
    }.get
    val version = row.getAs[Int]("version")
    require(versions.contains(version),
      s"$kind format version $version at $dir; this build reads " +
        (if (versions.size == 1) s"version ${versions.start}"
         else s"versions ${versions.start} to ${versions.last}") +
        " — rebuild or re-save it with this build")
    Meta(version, row)
  }

  // ── Driver-side parquet reads ───────────────────────────────────

  /** One call's footer reads: ONE Hadoop Configuration and ONE read
    * options object for every file (opening a file without options
    * builds a fresh Configuration and re-parses the XML resources,
    * ~15 ms a file), and each footer read once. */
  private final class Footers(spark: SparkSession) {
    val conf: Configuration = spark.sessionState.newHadoopConf()
    private val options = HadoopReadOptions.builder(conf).build()
    private val read = scala.collection.mutable.Map.empty[Path, ParquetMetadata]

    def exists(dir: String): Boolean = {
      val p = new Path(dir)
      p.getFileSystem(conf).exists(p)
    }

    def open(f: FileStatus): ParquetFileReader =
      ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf), options)

    def footer(f: FileStatus): ParquetMetadata = read.getOrElseUpdate(f.getPath,
      Using.resource(open(f))(_.getFooter))

    def rows(files: Seq[FileStatus]): Long =
      files.map(f => footer(f).getBlocks.asScala.map(_.getRowCount).sum).sum
  }

  /** The schema Spark recorded when it wrote the file — what its
    * schema inference would read back. None for a file Spark did not
    * write. */
  private def sparkSchema(footer: ParquetMetadata): Option[StructType] =
    Option(footer.getFileMetaData.getKeyValueMetaData
        .get(ParquetReadSupport.SPARK_METADATA_KEY))
      .map(DataType.fromJson(_).asInstanceOf[StructType])

  /** Spark's own file index over `dir`, the one `spark.read.parquet`
    * builds: its hidden-file rules (names starting with `_` or `.`),
    * its `key=value` partition directories, and the session's
    * file-status cache, which `refreshIndexPath` invalidates. */
  private def fileIndex(spark: SparkSession, io: Footers,
                        dir: String): InMemoryFileIndex = {
    val root = new Path(dir)
    val fs = root.getFileSystem(io.conf)
    new InMemoryFileIndex(spark,
      Seq(root.makeQualified(fs.getUri, fs.getWorkingDirectory)),
      CaseInsensitiveMap(Map("path" -> dir)), None,
      FileStatusCache.getOrCreate(spark))
  }

  /** A parquet directory as one scan reads it: `df` scans exactly the
    * files Spark's file index listed, and `rows` is their footer row
    * count — the number `df.count()` returns, with no job. */
  final class Scan private[Artifacts] (val df: DataFrame,
                                       files: Seq[FileStatus], io: Footers) {
    def rows: Long = io.rows(files)
  }

  /** The read of every persisted directory: the relation a
    * `spark.read.parquet(dir)` builds, over the same listing, with the
    * data schema taken from the first file's footer (the file Spark's
    * inference would read) instead of a schema-inference job. A
    * directory whose files Spark did not write, or a session that
    * merges parquet schemas, takes Spark's own read. */
  def scan(spark: SparkSession, dir: String): Scan =
    scanWith(spark, new Footers(spark), dir)

  private def scanWith(spark: SparkSession, io: Footers, dir: String): Scan = {
    val index = fileIndex(spark, io, dir)
    val files = index.allFiles()
    val schema =
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
      else files.sortBy(_.getPath.toString).headOption
        .flatMap(f => sparkSchema(io.footer(f)))
    val df = schema.fold(spark.read.parquet(dir)) { s =>
      spark.baseRelationToDataFrame(HadoopFsRelation(index,
        index.partitionSchema, nullable(s), None,
        new ParquetFileFormat, CaseInsensitiveMap(Map("path" -> dir)))(spark))
    }
    new Scan(df, files, io)
  }

  /** `s` with every field, element and value nullable — the relaxation
    * Spark's file sources apply to a parquet schema before reading. */
  private def nullable(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType),
      nullable = true)))

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => nullable(s)
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v),
      valueContainsNull = true)
    case other => other
  }

  /** The one row of a meta file, decoded under its Spark schema. */
  private def decodeOne(reader: ParquetFileReader, schema: StructType): Row = {
    val fileSchema = reader.getFooter.getFileMetaData.getSchema
    val group = new ColumnIOFactory().getColumnIO(fileSchema)
      .getRecordReader(reader.readNextRowGroup(),
        new GroupRecordConverter(fileSchema)).read()
    decodeStruct(group, nullable(schema))
  }

  private def decodeStruct(g: Group, schema: StructType): Row =
    new GenericRowWithSchema(schema.fields.map { f =>
      val i = g.getType.getFieldIndex(f.name)
      if (g.getFieldRepetitionCount(i) == 0) null else decode(g, i, f.dataType)
    }, schema)

  /** Field `i` of `g` as Spark returns a value of type `t`. A list is
    * Spark's three-level LIST group (list → repeated group → element). */
  private def decode(g: Group, i: Int, t: DataType): Any = t match {
    case IntegerType => g.getInteger(i, 0)
    case LongType => g.getLong(i, 0)
    case DoubleType => g.getDouble(i, 0)
    case BooleanType => g.getBoolean(i, 0)
    case StringType => g.getString(i, 0)
    case s: StructType => decodeStruct(g.getGroup(i, 0), s)
    case ArrayType(e, _) =>
      val list = g.getGroup(i, 0)
      Vector.tabulate(list.getFieldRepetitionCount(0)) { j =>
        val item = list.getGroup(0, j)
        if (item.getFieldRepetitionCount(0) == 0) null else decode(item, 0, e)
      }
    case other => throw new IllegalArgumentException(
      s"meta column type $other has no driver-side decoder")
  }

  /** The centroid column codec: (cid, vector) in cid order, stored as
    * array<struct<_1: int, _2: array<double>>>. */
  def encodeCents(cents: KMeans.Centroids): Seq[(Int, Seq[Double])] =
    cents.sortBy(_._1).toSeq.map { case (cid, v) => (cid, v.toSeq) }

  def decodeCents(meta: Meta, field: String): KMeans.Centroids =
    meta.get[scala.collection.Seq[Row]](field)
      .map(c => c.getInt(0) -> c.getSeq[Double](1).toArray).toArray

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

  /** The tombstone set, None when none was ever written
    * (existence-checked — no logged listing failure on the common
    * no-deletes path). */
  private def tombstones(spark: SparkSession, tombDir: String): Option[Scan] = {
    val io = new Footers(spark)
    if (io.exists(tombDir)) Some(scanWith(spark, io, tombDir)) else None
  }

  /** Tombstoned ids as (id) in the index's native id type. */
  private def tombIds(t: Scan): DataFrame = t.df.select(col("id"))

  /** `data` without its tombstoned rows: one broadcast anti-join
    * against the takedown-sized set, none when no tombstones exist. */
  def maskTombstones(spark: SparkSession, data: DataFrame,
                     tombDir: String): DataFrame =
    tombstones(spark, tombDir).fold(data)(t =>
      data.join(broadcast(tombIds(t)), Seq("id"), "left_anti"))

  /** A batch id in the tombstone set refuses: its old row is still
    * physical until the next compact, so a re-append would leave the
    * id with a dead row, a live row and a tombstone, and the read-side
    * anti-join would silently drop BOTH rows. */
  def requireNotTombstoned(spark: SparkSession, batchIds: DataFrame,
                           tombDir: String, path: String,
                           where: String): Unit =
    tombstones(spark, tombDir).foreach { t =>
      val hit = tombIds(t).join(batchIds.select(col("id")).distinct(), "id")
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
    * rows and the tombstones must both match the meta. Both counts are
    * footer sums on the driver — the data over the files `data.df`
    * scans — so the gate runs no Spark job. */
  def requireCounts(spark: SparkSession, data: Scan, rows: Long,
                    tombDir: String, deleted: Long, path: String,
                    where: String): Unit = {
    val actual = data.rows
    require(actual == rows,
      s"$where: stale index at $path: meta records $rows rows, index " +
        s"holds $actual — partial append or concurrent writer; rebuild")
    val tombs = tombstones(spark, tombDir).fold(0L)(_.rows)
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
    val tombs = tombstones(spark, tombDir)
    val actual = tombs.fold(0L)(_.rows)
    require(actual >= metaDeleted,
      tombstoneDriftMsg(where, path, metaDeleted, actual))
    if (actual > metaDeleted) commit(actual)
    // pin ONE instantiation of the id set: the live filter, the
    // tombstone write, and the meta count must agree
    val live = ids.distinct()
      .join(scan(spark, dataDir).df.select(col("id")), "id")
    val doomed = tombs.fold(live)(t =>
      live.join(tombIds(t), Seq("id"), "left_anti")).localCheckpoint()
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
    * integrity gate over `live`, the scan of the live data directory
    * that `rewrite` then reads. */
  def compactIndexRoot(spark: SparkSession, path: String, live: Scan,
                       dataSub: String, metaSubdir: String,
                       expectedCopied: Long, where: String,
                       rewriteMeta: Option[String => Unit])(
      rewrite: (DataFrame, String) => Unit): Unit = {
    def data(root: String): String =
      if (dataSub.isEmpty) root else s"$root/$dataSub"
    val tmp = s"${path}__compacting"
    delete(spark, tmp)
    rewrite(live.df, data(tmp))
    // the meta lands in the side root before the swap, so a crash can
    // never leave a live root with a stale meta
    rewriteMeta.fold(copyMeta(spark, s"$path/$metaSubdir", s"$tmp/$metaSubdir"))(
      _(tmp))
    val copied = scan(spark, data(tmp)).rows
    require(copied == expectedCopied,
      s"$where: compacted copy at $tmp holds $copied rows, expected " +
        s"$expectedCopied — refusing the swap; the live index is untouched")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(s"${path}__precompact")
    fs.delete(old, true)
    require(fs.rename(root, old), s"$where: could not move $path aside")
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), root),
      s"$where: could not move the compacted copy into place — the " +
        s"original index is preserved at $old; restore it by renaming back")
    fs.delete(old, true)
    refreshIndexPath(spark, path)
  }
}
