package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The SQL forms of `ClusterMetrics.jaccard`, `randIndex` and `purity`
  * before the three became driver arithmetic over one collected
  * contingency table. Each rebuilds the (truth, pred) count table and
  * derives its counts with further aggregates and 1-row cross joins,
  * lazily. Kept as the twins the driver forms are pinned against in
  * ClusterMetricsSpec. */
object ClusterMetricsTwins {

  def jaccardSql(assigned: DataFrame, truthCol: String, predCol: String): DataFrame = {
    val cells = assigned
      .select(col(truthCol).cast("long").as("truth"), col(predCol).cast("long").as("pred"))
      .groupBy("truth", "pred").agg(count(lit(1)).as("n"))
    val m11 = cells.filter(col("truth") =!= -1L && col("pred") =!= -1L)
      .agg(coalesce(sum(col("n") * col("n")), lit(0L)).as("m11"))
    val g = cells.filter(col("truth") =!= -1L)
      .groupBy("truth").agg(sum(col("n")).as("nt"))
      .agg(coalesce(sum(col("nt") * col("nt")), lit(0L)).as("g"))
    val p = cells.filter(col("pred") =!= -1L)
      .groupBy("pred").agg(sum(col("n")).as("np"))
      .agg(coalesce(sum(col("np") * col("np")), lit(0L)).as("p"))
    // three 1-row aggregates; the cross joins broadcast trivially
    m11.crossJoin(g).crossJoin(p).select(
      col("m11"),
      (col("g") + col("p") - lit(2L) * col("m11")).as("disagree"),
      (col("m11") / (col("g") + col("p") - col("m11"))).as("jaccard"))
  }

  def randIndexSql(assigned: DataFrame, truthCol: String, predCol: String): DataFrame = {
    val jj = assigned
      .select(col(truthCol).cast("long").as("truth"), col(predCol).cast("long").as("pred"))
    val cells = jj.groupBy("truth", "pred").agg(count(lit(1)).as("n"))
    val m11 = cells.filter(col("truth") =!= -1L && col("pred") =!= -1L)
      .agg(coalesce(sum(col("n") * col("n")), lit(0L)).as("m11"))
    val g = cells.filter(col("truth") =!= -1L)
      .groupBy("truth").agg(sum(col("n")).as("nt"))
      .agg(coalesce(sum(col("nt") * col("nt")), lit(0L)).as("g"))
    val p = cells.filter(col("pred") =!= -1L)
      .groupBy("pred").agg(sum(col("n")).as("np"))
      .agg(coalesce(sum(col("np") * col("np")), lit(0L)).as("p"))
    // total from the contingency cells (identical subtree to the other
    // three aggregates, so the exchange is reused), not a 4th full
    // scan of the assignment input
    val nn = cells.agg(coalesce(sum(col("n")), lit(0L)).as("ntot"))
    m11.crossJoin(g).crossJoin(p).crossJoin(nn).select(
      col("m11"),
      (col("ntot") * col("ntot") - col("g") - col("p") + col("m11")).as("m00"),
      ((col("m11") + col("ntot") * col("ntot") - col("g") - col("p") + col("m11"))
        .cast("double") / (col("ntot") * col("ntot")).cast("double")).as("rand"))
  }

  def puritySql(assigned: DataFrame, truthCol: String, predCol: String): DataFrame =
    assigned
      .select(col(truthCol).cast("long").as("truth"), col(predCol).cast("long").as("pred"))
      .groupBy("truth", "pred").agg(count(lit(1)).as("n"))
      .groupBy("pred").agg(max(col("n")).as("mx"), sum(col("n")).as("ns"))
      .agg(sum(col("mx")).as("correct"), sum(col("ns")).as("n"))
      .select(col("correct"), col("n"),
        (col("correct").cast("double") / col("n").cast("double")).as("purity"))
}
