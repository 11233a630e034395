package graft.pipeline

import graft.{AtomicDir, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector-index GENERATIONS — the serving lifecycle around the batch
  * index build (`Similarity.buildIvfIndex`) and the streaming encoder
  * ([[graft.streaming.StreamIndexer]]): a rebuild writes a complete
  * new generation NEXT TO the one being served, then swaps it live
  * atomically; searches always see a whole generation, never a
  * half-written one. This is the refit path the drift monitor
  * ([[graft.streaming.MomentsStream]]) triggers when the arriving
  * distribution walks away from the frozen quantizer.
  *
  * A generation is SELF-CONTAINED: the cell-partitioned corpus
  * (`data/`, with per-vector norms precomputed) plus the quantizer
  * centroids that produced it (`_model/`, k rows). Search loads the
  * model FROM the generation — never from a session cache — so a
  * swap changes the centroids and the data together, and a reader
  * racing a swap gets old-model-with-old-data or new-with-new,
  * never a mix (the quantizer that assigned the cells is the only
  * one that can rank probes against them).
  *
  * Scale shape: rebuild = one k-means fit + one cell-partitioned
  * write (the batch index-build cost, off the serving path); swap =
  * two renames ([[AtomicDir]] — crash leaves a recoverable state,
  * spec'd); search = the `annTopKIndexed` partition-pruned scan.
  */
object IndexLifecycle {

  private def current(root: String) = s"$root/current"

  /** Fit the quantizer on the corpus and publish a new generation.
    * The serving directory is replaced atomically; the previous
    * generation keeps serving until the instant of the swap.
    */
  def rebuild(s: SparkSession, dir: String, root: String): Unit = {
    val emb = Tables(s, dir, "embeddings")
    val model = KMeans.fit(emb, "embedding", "vec_id", Similarity.AnnCells, iters = 3)
    val cur = current(root)
    AtomicDir.recover(cur)
    val tmp = AtomicDir.tmpPath(cur)
    emb.select(col("vec_id"), col("embedding"),
        graft.functions.Vectors.norm(col("embedding")).as("c_nrm"),
        model.assignCol(col("embedding")).as("cluster_id"))
      .write.mode("overwrite").partitionBy("cluster_id").parquet(s"$tmp/data")
    model.toDf(emb).coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/_model")
    AtomicDir.swap(cur)
  }

  /** IVF search over the served generation: centroids come from the
    * generation itself (k rows — model scale), probe pruning is
    * partition pruning on `data/`, scoring and ranking are exactly
    * the `annTopKIndexed` plan. Queries: the shared bounded set
    * (vec_id < 10 of the fixture corpus).
    */
  def search(s: SparkSession, dir: String, root: String,
      nProbe: Int, k: Int): DataFrame = {
    val cur = current(root)
    AtomicDir.recover(cur)
    val model = KMeans.Model(
      graft.operators.Snapshot.readSidecar(s, cur, "_model")
        .getOrElse(throw new IllegalStateException(s"no index generation at $cur"))
        .orderBy("cluster_id")
        .collect().map(_.getSeq[Double](1).toArray))
    val cents = model.toDf(s.range(0).toDF())
    val emb = Tables(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        graft.functions.Vectors.norm(col("embedding")).as("q_nrm"))
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("c_sim").desc, col("cluster_id").asc)
    val probes = queries.join(broadcast(cents))
      .withColumn("c_sim",
        round(graft.functions.Vectors.cosine(col("q_emb"), col("centroid")), 6))
      .withColumn("c_rank", row_number().over(probeW))
      .filter(col("c_rank") <= nProbe)
      .select(col("q_id"), col("q_emb"), col("q_nrm"), col("cluster_id"))
    val probedCells = probes.select("cluster_id").distinct()
      .collect().map(_.getInt(0)).sorted
    val scored = s.read.parquet(s"$cur/data")
      .filter(col("cluster_id").isin(probedCells.map(Integer.valueOf): _*))
      .join(broadcast(probes), Seq("cluster_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos_sim",
        round(graft.functions.Vectors.dot(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("c_nrm")), 4))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos_sim"))
      .orderBy("q_id", "rank")
  }

  /** Index-aware dispatch — SURVEY §7's deferred "ANN rewrite Rule",
    * resolved as an explicit serving-path decision instead of a
    * silent optimizer rule. The soundness bar a `Rule[LogicalPlan]`
    * must meet (ProjectionRewrite's: byte-identical results) is
    * unreachable for pruned ANN — substituting an approximate probe
    * for an exact scan CHANGES answers (recall < 1), so it must be a
    * visible API choice, never a rewrite behind the query's back.
    * Dispatch: a published generation (post-swap `current/data`)
    * serves the partition-pruned IVF probe; no generation falls back
    * to the exact brute scan — cold-start correctness first, index
    * speed the moment a rebuild lands. Both arms share one scoring
    * formula and output schema, so callers (and the hard-negative
    * miner, which rides whatever candidate stream exists) are
    * agnostic to which arm answered.
    */
  def serveOrScan(s: SparkSession, dir: String, root: String,
      nProbe: Int, k: Int): DataFrame = {
    val cur = new java.io.File(current(root))
    AtomicDir.recover(current(root))
    if (new java.io.File(cur, "data").isDirectory)
      search(s, dir, root, nProbe, k)
    else Similarity.bruteTopK(s, dir, k)
  }
}
