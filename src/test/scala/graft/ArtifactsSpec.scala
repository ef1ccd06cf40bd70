package graft

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerUnpersistRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.operators.{Artifacts, Classifier, Dedup, KMeans, NaiveBayes, Similarity,
  Tokenizer, UnigramTokenizer}

/** The local file system under a `faulty` scheme whose every file read
  * fails: a storage outage, for the I/O-failure contract of
  * `Artifacts.readMeta`. */
class FaultyFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faulty:///")
  override def getScheme: String = "faulty"
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    throw new java.io.IOException(s"injected read failure: $f")
}

/** The persisted-artifact protocol over all twelve meta kinds: every
  * loader refuses a missing meta (naming the kind and the path), a
  * meta with more than one row, and a newer format version; every
  * saver writes the meta schema pinned below; v1 index metas still
  * decode and serve. */
class ArtifactsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val probes = emb.orderBy("vec_id").limit(3)
  private lazy val cents =
    KMeans.initCentroids(emb, "vec_id", "embedding", KMeans.FirstK(4))
  private lazy val pq = Similarity.trainPQ(emb, "vec_id", "embedding", d = 64,
    m = 4, k = 4, maxIter = 0)
  private lazy val rotation =
    Array.tabulate(64, 64)((i, j) => if (i == j) 1.0 else 0.0)
  private lazy val toy = Seq(
    (1L, "spam spam eggs", 1, "a"), (2L, "spam", 1, "a"),
    (3L, "ham ham eggs", 0, "b"), (4L, "ham eggs", 0, "c")
  ).toDF("id", "text", "y", "src")

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"artifacts_$tag").toString + "/a"

  /** One persisted kind: how to save it at a root, where its meta
    * lands under that root ("" = the root is the meta), how to load
    * it, and the meta schema the format pins (recorded before the
    * codec moved into one module). */
  private case class Kind(name: String, metaSub: String, ddl: String,
                          save: String => Unit, load: String => Any)

  private lazy val kinds: Seq[Kind] = Seq(
    Kind("IVF index", "_graft_index_meta",
      "version INT NOT NULL,rows BIGINT NOT NULL,deleted BIGINT NOT NULL," +
        "fingerprint STRING,cents ARRAY<STRUCT<_1: INT NOT NULL, _2: ARRAY<DOUBLE>>>",
      root => Similarity.buildIvfIndex(emb, "vec_id", "embedding", cents, root),
      root => Similarity.ivfTopKIndexed(spark, root, probes, "vec_id",
        "embedding", cents, nprobe = 2, k = 5)),
    Kind("IVF-PQ index", "_graft_ivfpq_meta",
      "version INT NOT NULL,rows BIGINT NOT NULL,deleted BIGINT NOT NULL," +
        "gen BIGINT NOT NULL,fingerprint STRING," +
        "cents ARRAY<STRUCT<_1: INT NOT NULL, _2: ARRAY<DOUBLE>>>," +
        "pq_fingerprint STRING,rotation_fp STRING",
      root => Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", cents, pq,
        root),
      root => Similarity.ivfPqIndexCodes(spark, root)),
    Kind("serving sweep", "_graft_sweep/meta",
      "version INT NOT NULL,cents_fp STRING,pq_fp STRING,rotation_fp STRING," +
        "n_rows BIGINT NOT NULL",
      root => {
        Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", cents, pq, root)
        Similarity.saveServingSweep(spark, root,
          Seq(Similarity.ServingBudget(2, 10, 0.5, 0.1)))
      },
      root => Similarity.loadServingSweep(spark, root)),
    Kind("PQ codebook", "meta",
      "version INT NOT NULL,d INT NOT NULL,m INT NOT NULL,k INT NOT NULL," +
        "n_rows BIGINT NOT NULL,residual_to STRING",
      root => Similarity.savePQ(spark, root, pq),
      root => Similarity.loadPQ(spark, root)),
    Kind("OPQ model", "meta",
      "version INT NOT NULL,d INT NOT NULL,rotation_fp STRING,pq_fp STRING",
      root => Similarity.saveOpq(spark, root, Similarity.OPQModel(rotation, pq)),
      root => Similarity.loadOpq(spark, root)),
    Kind("OPQ-IVF model", "meta",
      "version INT NOT NULL,d INT NOT NULL,rotation_fp STRING,pq_fp STRING," +
        "cents_fp STRING,cents ARRAY<STRUCT<_1: INT NOT NULL, _2: ARRAY<DOUBLE>>>",
      root => Similarity.saveOpqIvf(spark, root,
        Similarity.OpqIvfModel(rotation, cents, pq)),
      root => Similarity.loadOpqIvf(spark, root)),
    Kind("MinHash index", "_graft_index_meta",
      "version INT NOT NULL,rows BIGINT NOT NULL,deleted BIGINT NOT NULL," +
        "n INT NOT NULL,h INT NOT NULL,parity BOOLEAN NOT NULL",
      root => Dedup.writeMinhashIndex(docs, "doc_id", "text", root),
      root => Dedup.readMinhashIndex(spark, root)),
    Kind("LogReg model", "",
      "version INT NOT NULL,weights ARRAY<DOUBLE>,bias DOUBLE NOT NULL," +
        "mean ARRAY<DOUBLE>,scale ARRAY<DOUBLE>,loss_history ARRAY<DOUBLE>",
      root => Classifier.saveLogReg(spark, root,
        Classifier.Standardizer(Array(0.0, 1.0), Array(1.0, 2.0)),
        Classifier.LogRegModel(Array(0.5, -0.25), 0.125, Seq(0.7, 0.6))),
      root => Classifier.loadLogReg(spark, root)),
    Kind("NB model", "meta",
      "version INT NOT NULL,bias DOUBLE NOT NULL,oov_w DOUBLE NOT NULL," +
        "vocab_size BIGINT NOT NULL,alpha DOUBLE NOT NULL,n_rows BIGINT NOT NULL",
      root => NaiveBayes.saveNB(spark, root,
        NaiveBayes.trainMultinomial(toy, "id", "text", "y")),
      root => NaiveBayes.loadNB(spark, root)),
    Kind("NB multiclass model", "meta",
      "version INT NOT NULL,alpha DOUBLE NOT NULL,classes ARRAY<STRING>," +
        "priors ARRAY<DOUBLE>,oovs ARRAY<DOUBLE>,n_weights BIGINT NOT NULL",
      root => NaiveBayes.saveNBMulticlass(spark, root,
        NaiveBayes.trainMulticlass(toy, "id", "text", "src")),
      root => NaiveBayes.loadNBMulticlass(spark, root)),
    Kind("BPE merge list", "meta",
      "version INT NOT NULL,n_merges BIGINT NOT NULL",
      root => Tokenizer.saveBpe(spark, root, Seq(("a", "b"), ("ab", "c"))),
      root => Tokenizer.loadBpe(spark, root)),
    Kind("unigram vocabulary", "meta",
      "version INT NOT NULL,n_pieces BIGINT NOT NULL,total BIGINT NOT NULL," +
        "byte_fallback BOOLEAN NOT NULL",
      root => UnigramTokenizer.saveUnigram(spark, root,
        UnigramTokenizer.UnigramModel(Seq(("ab", 3L), ("a", 2L), ("b", 1L)))),
      root => UnigramTokenizer.loadUnigram(spark, root))
  )

  /** One saved artifact per kind, shared by the tests below; a test
    * that needs a broken one edits a copy. */
  private lazy val saved: Map[String, String] = kinds.map { k =>
    val root = tmp(k.name.replaceAll("[^A-Za-z]", ""))
    k.save(root)
    k.name -> root
  }.toMap

  private def metaDir(root: String, k: Kind): String =
    if (k.metaSub.isEmpty) root else s"$root/${k.metaSub}"

  /** A fresh copy of `root` whose meta is `edit` of the original's
    * (None deletes it). Fresh paths keep Spark's file-status cache
    * out of the picture. */
  private def copyWithMeta(root: String, metaSub: String)(
      edit: Option[DataFrame => DataFrame]): String = {
    val copy = tmp("copy")
    FileUtils.copyDirectory(new java.io.File(root), new java.io.File(copy))
    val dest = if (metaSub.isEmpty) copy else s"$copy/$metaSub"
    FileUtils.deleteDirectory(new java.io.File(dest))
    edit.foreach { f =>
      f(spark.read.parquet(if (metaSub.isEmpty) root else s"$root/$metaSub"))
        .write.parquet(dest)
    }
    copy
  }

  /** The schema the writer recorded in the meta's parquet footer — the
    * on-disk format, with the nullability a read-back would relax. */
  private def footerDDL(dir: String): String = {
    val file = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getPath),
        spark.sessionState.newHadoopConf()))
    try DataType.fromJson(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      .asInstanceOf[StructType].toDDL
    finally reader.close()
  }

  test("every kind refuses a missing meta, a two-row meta and a newer version") {
    kinds.foreach { k =>
      val root = saved(k.name)
      val missing = copyWithMeta(root, k.metaSub)(None)
      val e0 = intercept[IllegalArgumentException](k.load(missing))
      assert(e0.getMessage.contains(k.name)
          && e0.getMessage.contains(metaDir(missing, k)),
        s"${k.name}: ${e0.getMessage}")
      val twoRows = copyWithMeta(root, k.metaSub)(Some(m => m.union(m)))
      val e1 = intercept[IllegalArgumentException](k.load(twoRows))
      assert(e1.getMessage.contains("rows"), s"${k.name}: ${e1.getMessage}")
      val newer = copyWithMeta(root, k.metaSub)(
        Some(_.withColumn("version", lit(99))))
      val e2 = intercept[IllegalArgumentException](k.load(newer))
      assert(e2.getMessage.contains("version"), s"${k.name}: ${e2.getMessage}")
    }
    // the binary NB format reads v2 only
    val nb = copyWithMeta(saved("NB model"), "meta")(
      Some(_.withColumn("version", lit(1))))
    val e = intercept[IllegalArgumentException](NaiveBayes.loadNB(spark, nb))
    assert(e.getMessage.contains("version"), e.getMessage)
  }

  test("every saver writes the pinned meta schema, and the artifact loads back") {
    kinds.foreach { k =>
      val root = saved(k.name)
      assert(footerDDL(metaDir(root, k)) == k.ddl, k.name)
      assert(spark.read.parquet(metaDir(root, k)).count() == 1L, k.name)
      k.load(root)
    }
  }

  private def asSet(d: DataFrame) = d.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet

  /** A v1 copy of a v2 index meta: the v2-only columns dropped. */
  private def toV1(drop: String*)(m: DataFrame): DataFrame =
    m.drop(drop: _*).withColumn("version", lit(1))

  test("v1 IVF and MinHash metas decode with no deletes and serve the v2 rows") {
    val ivf = saved("IVF index")
    val ivf1 = copyWithMeta(ivf, "_graft_index_meta")(Some(toV1("deleted")))
    def serve(root: String) = asSet(Similarity.ivfTopKIndexed(spark, root,
      probes, "vec_id", "embedding", cents, nprobe = 2, k = 5))
    assert(serve(ivf1) == serve(ivf) && serve(ivf).nonEmpty)

    val mh = saved("MinHash index")
    val mh1 = copyWithMeta(mh, "_graft_index_meta")(Some(toV1("deleted")))
    def sigs(root: String) = Dedup.readMinhashIndex(spark, root).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(mh1) == sigs(mh) && sigs(mh).nonEmpty)
  }

  /** A v1 copy of the saved v2 IVF-PQ index: v1 meta, cells at the root. */
  private def v1IvfPq(): String = {
    val v1 = copyWithMeta(saved("IVF-PQ index"), "_graft_ivfpq_meta")(
      Some(toV1("deleted", "gen", "rotation_fp")))
    // the v1 layout keeps its cells at the root
    val fs = new org.apache.hadoop.fs.Path(v1)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$v1/g0"))
      .filter(_.getPath.getName.startsWith("cell="))
      .foreach(s => assert(fs.rename(s.getPath,
        new org.apache.hadoop.fs.Path(s"$v1/${s.getPath.getName}"))))
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$v1/g0"), true))
    v1
  }

  test("a v1 IVF-PQ index serves the v2 rows, refuses writes, and compacts into g1") {
    val v2 = saved("IVF-PQ index")
    val v1 = v1IvfPq()
    def serve(root: String) = asSet(Similarity.ivfPqTopKIndexed(spark, root,
      probes, "vec_id", "embedding", cents, pq, nprobe = 2, k = 5))
    val want = serve(v2)
    assert(serve(v1) == want && want.nonEmpty)

    val batch = emb.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    Seq[() => Unit](
      () => Similarity.appendIvfPqIndex(spark, batch, "vec_id", "embedding", pq, v1),
      () => Similarity.deleteFromIvfPqIndex(spark, probes.select("vec_id"),
        "vec_id", v1)
    ).foreach { write =>
      val e = intercept[IllegalArgumentException](write())
      assert(e.getMessage.contains("v1 layout"), e.getMessage)
    }

    Similarity.compactIvfPqIndex(spark, v1)
    val meta = spark.read.parquet(s"$v1/_graft_ivfpq_meta").collect()
    assert(meta.length == 1 && meta(0).getAs[Int]("version") == 2
      && meta(0).getAs[Long]("gen") == 1L && meta(0).getAs[Long]("deleted") == 0L)
    assert(new java.io.File(s"$v1/g1").isDirectory)
    assert(serve(v1) == want)
    // the migrated index takes writes again
    Similarity.appendIvfPqIndex(spark, batch, "vec_id", "embedding", pq, v1)
    assert(Similarity.ivfPqIndexCodes(spark, v1).count() ==
      emb.count() + batch.count())
  }

  // ── Driver-side bookkeeping: the meta codec, footer counts, scans ──

  test("every meta decodes on the driver to Spark's own read, v1 metas and NULLs included") {
    def same(dir: String, kind: String): org.apache.spark.sql.Row = {
      val got = Artifacts.readMeta(spark, dir, kind, 1 to 99).row
      val want = spark.read.parquet(dir).collect().head
      assert(got == want && got.schema == want.schema, s"$kind at $dir: $got vs $want")
      got
    }
    val rows = kinds.map(k => k.name -> same(metaDir(saved(k.name), k), k.name)).toMap
    Seq(("IVF index", "_graft_index_meta", Seq("deleted")),
      ("MinHash index", "_graft_index_meta", Seq("deleted")),
      ("IVF-PQ index", "_graft_ivfpq_meta", Seq("deleted", "gen", "rotation_fp"))
    ).foreach { case (name, sub, v2Only) =>
      same(s"${copyWithMeta(saved(name), sub)(Some(toV1(v2Only: _*)))}/$sub", name)
    }
    // the unrotated index and the raw codebook store NULL provenance
    assert(rows("IVF-PQ index").isNullAt(rows("IVF-PQ index").fieldIndex("rotation_fp")))
    assert(rows("PQ codebook").isNullAt(rows("PQ codebook").fieldIndex("residual_to")))
  }

  test("a meta directory holding a file that is not parquet refuses as a missing meta") {
    kinds.foreach { k =>
      val copy = copyWithMeta(saved(k.name), k.metaSub)(None)
      val dir = metaDir(copy, k)
      FileUtils.writeStringToFile(new java.io.File(s"$dir/part-00000.parquet"),
        "not a parquet file", "UTF-8")
      val e = intercept[IllegalArgumentException](k.load(copy))
      assert(e.getMessage.contains(s"no ${k.name} at $dir"), s"${k.name}: ${e.getMessage}")
    }
  }

  test("an I/O failure reading a meta surfaces as itself, never as a rebuild refusal") {
    spark.conf.set("fs.faulty.impl", classOf[FaultyFileSystem].getName)
    try kinds.foreach { k =>
      val dir = s"faulty://${metaDir(saved(k.name), k)}"
      val e = intercept[java.io.IOException](
        Artifacts.readMeta(spark, dir, k.name, 1 to 99))
      assert(e.getMessage.contains("injected read failure")
        && !e.getMessage.contains("rebuild"), s"${k.name}: ${e.getMessage}")
    } finally spark.conf.unset("fs.faulty.impl")
  }

  test("footer counts and scan schemas equal Spark's, layout by layout") {
    val fs = new Path("/").getFileSystem(spark.sessionState.newHadoopConf())
    def files(dir: String): Seq[String] =
      FileUtils.listFiles(new java.io.File(dir), null, true)
        .toArray.map(_.asInstanceOf[java.io.File].getName).toSeq
    val ivf = copyWithMeta(saved("IVF index"), "_graft_index_meta")(Some(identity))
    Similarity.deleteFromIvfIndex(spark, probes.select("vec_id"), "vec_id", ivf)
    val appended = tmp("appended")
    Similarity.buildIvfPqIndex(emb.filter(col("vec_id") % 2 === 0), "vec_id",
      "embedding", cents, pq, appended)
    Similarity.appendIvfPqIndex(spark, emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", pq, appended)
    val mhData = s"${saved("MinHash index")}/data"
    assert(files(mhData).contains("_SUCCESS") && files(mhData).exists(_.endsWith(".crc")))
    assert(fs.listStatus(new Path(s"$appended/g0")).filter(_.isDirectory)
      .exists(d => fs.listStatus(d.getPath).count(_.getPath.getName.endsWith(".parquet")) >= 2))
    Seq(
      "v1 IVF-PQ root" -> v1IvfPq(),
      "v2 IVF-PQ generation" -> s"${saved("IVF-PQ index")}/g0",
      "float IVF root beside _tomb and its meta" -> ivf,
      "float IVF tombstones" -> Artifacts.rootTombDir(ivf),
      "MinHash data with _SUCCESS and .crc files" -> mhData,
      "appended IVF-PQ, two files per cell" -> s"$appended/g0"
    ).foreach { case (layout, dir) =>
      val got = Artifacts.scan(spark, dir)
      val want = spark.read.parquet(dir)
      assert(got.rows == want.count() && got.rows > 0, layout)
      assert(got.df.schema == want.schema, s"$layout: ${got.df.schema} vs ${want.schema}")
      assert(got.df.inputFiles.sorted.sameElements(want.inputFiles.sorted), layout)
      assert(got.df.queryExecution.analyzed.sameResult(want.queryExecution.analyzed), layout)
    }
  }

  /** Spark jobs started while `body` runs (the job-group listener of
    * GraphSpec's "jobs per call", drained through a marker job),
    * counting those whose description meets `described`. */
  private def jobsDuring(body: => Unit, described: String => Boolean = _ => true): Int = {
    val sc = spark.sparkContext
    val stamp = System.nanoTime()
    val (group, marker) = (s"artifacts-spec-$stamp", s"artifacts-spec-marker-$stamp")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var drained = false
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(p => p.getProperty("spark.jobGroup.id") == group &&
            described(String.valueOf(p.getProperty("spark.job.description")))))
          jobs.incrementAndGet()
        if (props.exists(_.getProperty("spark.job.description") == marker)) drained = true
      }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "ArtifactsSpec body")
      try body finally sc.clearJobGroup()
      sc.setJobDescription(marker)
      try spark.range(1).count() finally sc.setJobDescription(null)
      eventually(timeout(30.seconds), interval(20.millis))(assert(drained))
    } finally sc.removeSparkListener(l)
    jobs.get
  }

  test("bookkeeping runs no Spark job: meta reads, count gates and scan planning") {
    // before the driver-side reads, one IVF-PQ serve on this fixture
    // ran 12 jobs (17 after a delete) and a MinHash read with its
    // collect ran 11
    kinds.foreach { k =>
      val dir = metaDir(saved(k.name), k)
      assert(jobsDuring(Artifacts.readMeta(spark, dir, k.name, 1 to 99)) == 0, k.name)
    }
    val idx = tmp("jobs")
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", cents, pq, idx)
    def serve(): Unit = Similarity.ivfPqTopKIndexed(spark, idx, probes, "vec_id",
      "embedding", cents, pq, nprobe = 2, k = 5).collect()
    val before = jobsDuring(serve())
    Similarity.deleteFromIvfPqIndex(spark, emb.filter(col("vec_id") % 7 === 0)
      .select("vec_id"), "vec_id", idx)
    val after = jobsDuring(serve())
    assert(before <= 7 && after <= 7, s"serve: $before jobs, $after after a delete")

    val mh = copyWithMeta(saved("MinHash index"), "_graft_index_meta")(Some(identity))
    Dedup.deleteFromMinhashIndex(spark, docs.filter(col("doc_id") % 7 === 0)
      .select("doc_id"), "doc_id", mh)
    assert(jobsDuring(Dedup.readMinhashIndex(spark, mh)) == 0)
    val read = jobsDuring(Dedup.readMinhashIndex(spark, mh).select("id").collect())
    assert(read <= 2, s"MinHash read: $read jobs")
  }

  test("an IVF or IVF-PQ append lists the current generation once") {
    // past spark.sql.sources.parallelPartitionDiscovery.threshold cell
    // directories a listing is a Spark job; an append's schema check
    // and id audit read one listing. Lowered here so the 4 cells cross it.
    val threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val (ivf, ivfPq) = (tmp("listed-ivf"), tmp("listed-ivfpq"))
    val (even, odd) = (emb.filter(col("vec_id") % 2 === 0), emb.filter(col("vec_id") % 2 === 1))
    Similarity.buildIvfIndex(even, "vec_id", "embedding", cents, ivf)
    Similarity.buildIvfPqIndex(even, "vec_id", "embedding", cents, pq, ivfPq)
    def listings(body: => Unit): Int = jobsDuring(body, _.startsWith("Listing leaf files"))
    spark.conf.set(threshold, "1")
    try {
      assert(listings(Similarity.appendIvfIndex(spark, odd, "vec_id", "embedding", ivf)) === 1,
        "IVF append")
      assert(listings(Similarity.appendIvfPqIndex(spark, odd, "vec_id", "embedding", pq, ivfPq))
        === 1, "IVF-PQ append")
    } finally spark.conf.unset(threshold)
  }

  /** Log events at WARN or above whose message contains `text`,
    * captured on the root logger while `body` runs. */
  private def warningsDuring(text: String)(body: => Unit): Int = {
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val appender = new AbstractAppender("artifacts-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains(text)) seen.incrementAndGet()
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
    try body finally {
      ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
    seen.get
  }

  test("an IVF-PQ serve and a model load log no 'All paths were ignored' warning") {
    val idx = saved("IVF-PQ index")
    val ignored = "All paths were ignored"
    // the control: Spark's own read of an underscore-named meta warns
    assert(warningsDuring(ignored)(
      spark.read.parquet(s"$idx/_graft_ivfpq_meta").collect()) >= 1)
    assert(warningsDuring(ignored) {
      Similarity.ivfPqTopKIndexed(spark, idx, probes, "vec_id", "embedding", cents,
        pq, nprobe = 2, k = 5).collect()
      Similarity.loadPQ(spark, saved("PQ codebook"))
      Classifier.loadLogReg(spark, saved("LogReg model"))
    } == 0)
  }

  test("an append frees its pinned batch without the 'locally checkpointed' warning") {
    val truncated = "was locally checkpointed, its lineage has been truncated"
    // the control: RDD.unpersist on a locally checkpointed frame warns
    val cp = emb.select("vec_id").localCheckpoint()
    val cpRdd = cp.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.head
    assert(warningsDuring(truncated)(cpRdd.unpersist(blocking = true)) >= 1)
    val (ivf, ivfPq, mh) = (tmp("pin-ivf"), tmp("pin-ivfpq"), tmp("pin-mh"))
    val (even, odd) = (emb.filter(col("vec_id") % 2 === 0), emb.filter(col("vec_id") % 2 === 1))
    Similarity.buildIvfIndex(even, "vec_id", "embedding", cents, ivf)
    Similarity.buildIvfPqIndex(even, "vec_id", "embedding", cents, pq, ivfPq)
    Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", mh)
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.keySet
    val freed = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val l = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = freed.add(e.rddId)
    }
    sc.addSparkListener(l)
    try {
      assert(warningsDuring(truncated) {
        Similarity.appendIvfIndex(spark, odd, "vec_id", "embedding", ivf)
        Similarity.appendIvfPqIndex(spark, odd, "vec_id", "embedding", pq, ivfPq)
        Dedup.appendMinhashIndex(spark, docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", mh)
      } == 0)
      // one pinned batch per append, plus the MinHash signature cache
      eventually(timeout(30.seconds), interval(20.millis))(assert(freed.size >= 3))
    } finally sc.removeSparkListener(l)
    // every pinned batch's RDD left the context's persistent set
    freed.forEach(id => assert(!sc.getPersistentRDDs.contains(id), s"RDD $id"))
    assert((sc.getPersistentRDDs.keySet -- persisted).isEmpty,
      s"pinned batches still registered: ${sc.getPersistentRDDs.keySet -- persisted}")
  }
}
