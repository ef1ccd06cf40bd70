package bench

import java.nio.file.Path

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.operators.{Dedup, KMeans, Similarity}
import graft.operators.KMeans.FirstK

/** Writes beside reads on the persisted-index layer. IVF-PQ: coarse
  * K-Means, PQ training, build, three serves, append, delete, three
  * serves, compact. MinHash: write, append, delete, read, compact. A
  * change that makes writes cheaper by making serves dearer shows here. */
final class IndexLifecycle(spark: SparkSession, tracer: Tracer, seed: Long, work: Path)
    extends Workload {
  import IndexLifecycle._

  private var vectorsPath: Path = _
  private var docsPath: Path = _

  private var served = Seq.empty[(String, Array[Long])]
  private var minhashRead: Array[Long] = _
  private var ivfAfterCompact: Array[Long] = _
  private var minhashAfterCompact: Array[Long] = _
  private var filesWritten = 0
  private var indexBytes = 0L
  private var iterations = 0

  private def ivfPath(p: Int) = work.resolve(s"ivfpq-$p")
  private def minhashPath(p: Int) = work.resolve(s"minhash-$p")

  private val vecIds = (1L to Vectors.toLong).toSet
  private val ivfBuilt = vecIds.filter(_ % AppendMod != 0)
  private val ivfDeleted = vecIds.filter(_ % DeleteMod == 1)
  private val ivfLive = vecIds -- ivfDeleted
  private val docIds = (1L to Docs.toLong).toSet
  private val docDeleted = docIds.filter(_ % DeleteMod == 1)
  private val docLive = docIds -- docDeleted

  /** Vectors: Clusters Gaussian blobs in Dims dimensions, stored as
    * array<float>. Docs: Zipf-skewed words from a fixed vocabulary, each
    * long enough to shingle. */
  def generate(dir: Path): Unit = {
    val rnd = new Random(seed)
    val centers = Array.fill(Clusters, Dims)(rnd.nextDouble() * 2.0 - 1.0)
    val vecRows = (1L to Vectors.toLong).map { id =>
      val c = centers(rnd.nextInt(Clusters))
      Row(id, c.map(x => (x + rnd.nextGaussian() * Spread).toFloat).toSeq)
    }
    val zipf = {
      val w = (1 to Vocabulary).map(r => 1.0 / r)
      val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
      () => { val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble()); if (i >= 0) i else -i - 1 }
    }
    val docRows = (1L to Docs.toLong).map { id =>
      Row(id, Seq.fill(DocWords + rnd.nextInt(DocWords))(s"w${zipf()}").mkString(" "))
    }
    vectorsPath = dir.resolve("vectors.parquet")
    docsPath = dir.resolve("docs.parquet")
    spark.createDataFrame(java.util.Arrays.asList(vecRows: _*), StructType(Seq(
        StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)))))
      .repartition(4).write.mode("overwrite").parquet(vectorsPath.toString)
    spark.createDataFrame(java.util.Arrays.asList(docRows: _*), StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .repartition(4).write.mode("overwrite").parquet(docsPath.toString)
  }

  def prepare(): Unit = ()

  private def ivfWrite(name: String, path: Path)(body: => Unit): Unit = {
    val before = if (tracer.traced) Fs.files(path) else Map.empty[String, (Long, Long)]
    tracer.span(name)(body)
    if (tracer.traced) filesWritten += Fs.written(before, Fs.files(path))
  }

  def pass(p: Int): Unit = {
    val vectors = spark.read.parquet(vectorsPath.toString)
    val docs = spark.read.parquet(docsPath.toString)
    val idx = ivfPath(p).toString
    val mh = minhashPath(p).toString
    filesWritten = 0
    served = Nil

    val model = tracer.span("kmeans.fit") {
      KMeans.fit(vectors, "vec_id", "embedding", FirstK(Cells), CoarseIter)
    }
    iterations = model.iterations
    val cents = model.centroids
    val pq = tracer.span("similarity.train") {
      Similarity.trainPQ(vectors, "vec_id", "embedding", d = Dims, m = SubSpaces,
        k = Codes, maxIter = PqIter)
    }
    def serve(batch: Int, phase: String): Unit = {
      val probes = vectors.filter(col("vec_id") > batch * Probes && col("vec_id") <= (batch + 1) * Probes)
      val rows = tracer.span("similarity.serve") {
        Similarity.ivfPqTopKIndexed(spark, idx, probes, "vec_id", "embedding", cents, pq,
          nprobe = NProbe, k = TopK).collect()
      }
      served :+= (phase -> rows.map(_.getAs[Long]("vec_id")))
    }
    ivfWrite("similarity.build", ivfPath(p)) {
      Similarity.buildIvfPqIndex(vectors.filter(col("vec_id") % AppendMod =!= 0),
        "vec_id", "embedding", cents, pq, idx)
    }
    (0 until 3).foreach(b => serve(b, "built"))
    ivfWrite("similarity.append", ivfPath(p)) {
      Similarity.appendIvfPqIndex(spark, vectors.filter(col("vec_id") % AppendMod === 0),
        "vec_id", "embedding", pq, idx)
    }
    ivfWrite("similarity.delete", ivfPath(p)) {
      Similarity.deleteFromIvfPqIndex(spark,
        vectors.filter(col("vec_id") % DeleteMod === 1).select("vec_id"), "vec_id", idx)
    }
    (3 until 6).foreach(b => serve(b, "deleted"))
    ivfWrite("similarity.compact", ivfPath(p)) {
      Similarity.compactIvfPqIndex(spark, idx)
    }

    tracer.span("dedup.minhash_write") {
      Dedup.writeMinhashIndex(docs.filter(col("doc_id") % AppendMod =!= 0), "doc_id", "text", mh)
    }
    tracer.span("dedup.minhash_append") {
      Dedup.appendMinhashIndex(spark, docs.filter(col("doc_id") % AppendMod === 0),
        "doc_id", "text", mh)
    }
    tracer.span("dedup.minhash_delete") {
      Dedup.deleteFromMinhashIndex(spark,
        docs.filter(col("doc_id") % DeleteMod === 1).select("doc_id"), "doc_id", mh)
    }
    minhashRead = tracer.span("dedup.minhash_read") {
      Dedup.readMinhashIndex(spark, mh).select(col("id")).collect().map(_.getLong(0))
    }
    tracer.span("dedup.minhash_compact") {
      Dedup.compactMinhashIndex(spark, mh)
    }
  }

  override def aside(p: Int): Unit = tracer.span("kmeans.init") {
    KMeans.initCentroids(spark.read.parquet(vectorsPath.toString), "vec_id", "embedding",
      FirstK(Cells))
    ()
  }

  def check(p: Int): Seq[(String, Boolean, String)] = {
    ivfAfterCompact = Similarity.ivfPqIndexCodes(spark, ivfPath(p).toString)
      .select(col("id")).collect().map(_.getLong(0))
    minhashAfterCompact = Dedup.readMinhashIndex(spark, minhashPath(p).toString)
      .select(col("id")).collect().map(_.getLong(0))
    indexBytes = Fs.files(ivfPath(p)).values.map(_._1).sum
    val leaked = served.filter(_._1 == "deleted").flatMap(_._2).count(ivfDeleted)
    val notLive = served.count { case (phase, ids) =>
      val live = if (phase == "built") ivfBuilt else ivfLive
      !ids.forall(live)
    }
    def sameSet(got: Array[Long], want: Set[Long]) = got.length == want.size && got.toSet == want
    Seq(
      ("no deleted id is served", leaked == 0, s"$leaked deleted ids served"),
      ("every serve returns only live ids", notLive == 0, s"$notLive serves off the live set"),
      ("every serve answers its probes", served.forall(_._2.length == Probes * TopK),
        served.map(_._2.length).mkString("rows per serve: ", ",", "")),
      ("IVF-PQ live rows equal built + appended - deleted", sameSet(ivfAfterCompact, ivfLive),
        s"${ivfAfterCompact.length} live, want ${ivfLive.size}"),
      ("MinHash read after delete equals built + appended - deleted",
        sameSet(minhashRead, docLive), s"${minhashRead.length} live, want ${docLive.size}"),
      ("MinHash live rows after compact equal built + appended - deleted",
        sameSet(minhashAfterCompact, docLive),
        s"${minhashAfterCompact.length} live, want ${docLive.size}"))
  }

  def counts: Map[String, Double] = Map(
    "kmeans.iterations" -> iterations.toDouble,
    "kmeans.rows" -> Vectors.toDouble,
    "similarity.files_written" -> filesWritten.toDouble,
    "similarity.index_bytes_per_row" -> indexBytes.toDouble / ivfLive.size)

  def cleanup(p: Int): Unit = {
    Dedup.releaseCaches()
    Fs.deleteTree(ivfPath(p))
    Fs.deleteTree(minhashPath(p))
  }
}

object IndexLifecycle {
  val Vectors = 4000
  val Dims = 32
  val Clusters = 16
  val Spread = 0.3
  val Docs = 1000
  val Vocabulary = 2000
  val DocWords = 20
  /** ids divisible by AppendMod arrive by append; ids = 1 mod DeleteMod
    * are deleted (all of them were in the build). */
  val AppendMod = 8L
  val DeleteMod = 16L
  val Cells = 16
  val CoarseIter = 2
  val SubSpaces = 8
  val Codes = 16
  val PqIter = 1
  val Probes = 20
  val NProbe = 4
  val TopK = 10
}
