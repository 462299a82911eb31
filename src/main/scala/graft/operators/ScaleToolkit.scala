package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cluster-scale join techniques that don't change results, only plans:
  * bucketing (pre-shuffled co-located joins) and salting (skewed-key
  * spreading). Kept engine-level so pipelines opt in per table/key.
  */
object ScaleToolkit {

  /** Write a table bucketed+sorted by `key` into the session catalog.
    * Repeated joins/aggregations on `key` then skip their shuffle+sort
    * entirely (the classic fact-table pattern for 100 TB joins: pay the
    * shuffle once at ingest, never again). */
  def writeBucketed(df: DataFrame, key: String, buckets: Int, table: String): Unit =
    df.write
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .mode("overwrite")
      .saveAsTable(table) // managed table in the session warehouse

  /** Join two bucketed tables on their bucket key — planner emits a
    * sort-merge join with NO Exchange on either side when bucket counts
    * match. */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
      key: String): DataFrame =
    spark.table(left).join(spark.table(right), Seq(key))

  /** Salted join for a skewed build side: the skewed (large) side gets a
    * deterministic salt in [0, n); the small side is exploded n times so
    * every salted key finds its match. Correct for inner/left joins on
    * `key`; AQE's skew-join handles the same problem adaptively, this is
    * the explicit form for engines/configs where it's off. */
  def saltedJoin(skewed: DataFrame, dim: DataFrame, key: String, salt: Int,
      joinType: String = "inner"): DataFrame = {
    val saltedBig = skewed.withColumn("__salt", pmod(hash(monotonically_increasing_id()), lit(salt)))
    val explodedDim = dim.withColumn("__salt", explode(array((0 until salt).map(lit): _*)))
    saltedBig.join(explodedDim, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Global 0-based rank over `keyCol` WITHOUT a single-partition window
    * (`row_number() OVER (ORDER BY k)` funnels the whole table into one
    * task). Range-repartition + in-partition sort yields a globally ordered
    * RDD; `zipWithIndex` then turns per-partition counts (one lightweight
    * count job) into contiguous global indices. Every stage stays spread
    * across the cluster. Ties get an arbitrary but stable order within the
    * range partition, so use a unique key for deterministic output. */
  def globalRank(df: DataFrame, keyCol: String, rankCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField}
    val sorted = df.repartitionByRange(col(keyCol)).sortWithinPartitions(col(keyCol))
    val schema = sorted.schema.add(StructField(rankCol, LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
    sorted.sparkSession.createDataFrame(rdd, schema)
  }

  /** Spread a narrow input across the cluster BEFORE compute-dense per-row
    * work (hash signatures, shingle explosion, edit-distance verify) — the
    * optimization-guide §2.5 "repartition immediately after the read" move
    * for unsplittable/small inputs whose downstream CPU cost is many times
    * their byte size.
    *
    * Conditional, so it is scale-adaptive rather than a local-mode tune: a
    * source that already carries at least the cluster's default parallelism
    * (every real 100 TB scan) passes through untouched — no added shuffle;
    * only an input narrower than the cluster (one unsplittable file, a
    * single-row-group parquet, a collapsed post-AQE stage) pays one
    * round-robin shuffle of its (small by premise) bytes to unlock every
    * core for the expensive map work that follows. */
  def fanOut(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df else df.repartition(p)
  }

  /** Idempotent persist for operator-internal shared subtrees.
    *
    * Operators persist frames their returned (lazy) DataFrame reads more
    * than once (a self-join's two sides, an aggregate plus a join back).
    * Because the result is lazy, the operator cannot unpersist after "its"
    * action — the caller owns the terminal action. The caching contract is
    * therefore SESSION-scoped:
    *  - cache entries are keyed by canonicalized plan, so re-running an
    *    operator on the same input reuses the existing entry instead of
    *    stacking duplicates (this helper makes that reuse silent; a raw
    *    `.persist()` logs a CacheManager "already cached" WARN per call);
    *  - blocks are MEMORY_AND_DISK and LRU-evicted under pressure, so a
    *    long-lived session degrades to recompute, never OOM;
    *  - batch drivers that run many pipelines (the bench, the oracle
    *    verifier) call `spark.sharedState.cacheManager.clearCache()`
    *    between units of work — the documented way to release operator
    *    caches eagerly. Operators that DO run their own terminal action
    *    (connectedComponents' convergence loop) unpersist internally. */
  def cached(df: DataFrame): DataFrame =
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) df
    else df.persist()

  /** Count Exchange (shuffle) operators in a frame's executed plan — the
    * evidence hook the specs use. */
  def shuffleCount(df: DataFrame): Int =
    df.queryExecution.executedPlan.toString.linesIterator
      .count(_.trim.startsWith("Exchange"))
}
