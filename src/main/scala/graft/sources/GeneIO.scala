package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.KMeans.Centroids

/** IO for the reference's own data formats — the gene-expression TSV
  * source, the two row sinks, and the centroid text interchange format
  * (SURVEY.md §2 ops 1-2, 9, 14).
  *
  * Gene TSV (`KMeans.java:79-96` mapper parse, `KMeans.java:548-567`
  * driver parse): tab-separated, token 1 = int id, token 2 = int
  * ground-truth cluster label, all remaining tokens = double features.
  * Width is discovered per row (`KMeans.java:92-96`) — the three
  * reference datasets have 4, 16 and 12 feature columns — so the
  * reader splits `spark.read.text` lines rather than fixing a schema.
  *
  * Scale posture: the text scan is splittable and the parse is a
  * rowwise codegen'd projection; nothing here shuffles or collects.
  */
object GeneIO {

  /** Read a gene TSV into (id: long, label: int, features:
    * array<double>). Blank lines are skipped; a malformed numeric
    * token becomes NULL (the reference throws and kills the task —
    * SURVEY §1.2 — which is not an acceptable cluster-scale
    * behavior). */
  def readGenes(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .where(length(trim(col("value"))) > 0)
      .select(split(col("value"), "\t").as("t"))
      .select(
        element_at(col("t"), 1).cast("long").as("id"),
        element_at(col("t"), 2).cast("int").as("label"),
        slice(col("t"), lit(3), greatest(size(col("t")) - 2, lit(0)))
          .cast("array<double>").as("features"))

  // ── Row sinks (op 14, KMeans.java:348-372) ───────────────────────

  /** `finalOutput.txt` projection: one line per row,
    * `id\tcluster\tv1\t…\tvd` (`KMeans.java:352-358`). Doubles render
    * via Spark's double→string cast, which matches Java's
    * Double.toString (the reference's StringBuilder append). */
  def finalOutputLines(df: DataFrame, idCol: String, clusterCol: String,
                       featCol: String): DataFrame =
    df.select(concat_ws("\t",
      col(idCol).cast("string"), col(clusterCol).cast("string"),
      concat_ws("\t", col(featCol).cast("array<string>"))).as("value"))

  /** `hadoop_cluster_data_toPlot.txt` projection consumed by the PCA
    * notebook: `v1\t…\tvd\tcluster` (`KMeans.java:359-364`,
    * `PCA_Plot.ipynb:185-190`). */
  def plotOutputLines(df: DataFrame, clusterCol: String, featCol: String): DataFrame =
    df.select(concat_ws("\t",
      concat_ws("\t", col(featCol).cast("array<string>")),
      col(clusterCol).cast("string")).as("value"))

  /** Write a single TSV file like the reference's local sinks. The
    * coalesce(1) mirrors the reference's one local file — at cluster
    * scale drop it and write one part per partition. */
  def writeTsv(lines: DataFrame, path: String): Unit =
    lines.coalesce(1).write.mode("overwrite").text(path)

  // ── Centroid text interchange format (op 9) ──────────────────────
  //
  // Line format (`KMeans.java:516-526` Centroid.toString, prefixed by
  // the reducer's key + tab):
  //   cid \t v1 \t … \t vd \t id1|id2|…|idn| \t -n
  // The initial file written by DataStore.generateCentorids has no
  // membership suffix (`KMeans.java:605`): cid \t v1 \t … \t vd.
  // When parsing, vector tokens end at the first token containing '|'
  // (`KMeans.java:62-64`, `KMeans.java:268-270`) — the member count
  // token is '-' + n (`KMeans.java:525`).

  /** Render centroids (with optional member-id lists) in the
    * reference's interchange format. Centroid sets are k×d — driver
    * local by design (SURVEY §1.5), so this is pure Scala. */
  def centroidLines(cents: Centroids,
                    membership: Map[Int, Seq[Long]] = Map.empty): Seq[String] =
    cents.sortBy(_._1).toSeq.map { case (cid, v) =>
      val vec = v.map(_.toString).mkString("\t")
      membership.get(cid) match {
        case Some(ids) =>
          val idList = ids.map(_.toString).mkString("", "|", "|")
          s"$cid\t$vec\t$idList\t-${ids.length}"
        case None => s"$cid\t$vec"
      }
    }

  /** Parse interchange-format lines back to centroids + membership.
    * Mirrors the reference parse: token 0 = cluster id, vector tokens
    * run until the first token containing the '|' sentinel. */
  def parseCentroidLines(lines: Seq[String]): (Centroids, Map[Int, Seq[Long]]) = {
    val parsed = lines.filter(_.trim.nonEmpty).map { line =>
      val t = line.split("\t")
      val cid = t(0).trim.toInt
      val vec = t.drop(1).takeWhile(!_.contains("|")).map(_.toDouble)
      val ids = t.drop(1).find(_.contains("|"))
        .map(_.split("\\|").filter(_.nonEmpty).toSeq.map(_.toLong))
      (cid, vec, ids)
    }
    (parsed.map(p => (p._1, p._2)).toArray.sortBy(_._1),
      parsed.collect { case (cid, _, Some(ids)) => cid -> ids }.toMap)
  }

  /** Per-cluster member-id lists from an assignment DataFrame — the
    * reference's Centroid.idList (`KMeans.java:471`), needed only to
    * emit the interchange format. One collect_list aggregation; the
    * engine itself keeps membership as the per-row cluster column
    * (SURVEY §2 row 13). */
  def membership(assigned: DataFrame, idCol: String, clusterCol: String): Map[Int, Seq[Long]] =
    assigned.groupBy(col(clusterCol))
      .agg(sort_array(collect_list(col(idCol).cast("long"))).as("ids"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
}
