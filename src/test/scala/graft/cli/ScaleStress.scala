package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-shape stress evidence: replicate the sf0.1 `documents`/`embeddings`
  * tables K-fold with a per-copy perturbation, then time the heaviest
  * near-dup/clustering queries at 1x/4x/16x and check wall-time grows
  * ~linearly in rows (VERDICT r8 "Next round" item 5 — converts the
  * "100 TB by design" claim into measurement).
  *
  * The perturbation is chosen so the WORKLOAD shape scales honestly:
  *  - every word of copy `c` gets a `_c<c>` suffix — intra-copy shingle
  *    relations (and therefore each copy's near-dup structure) are preserved
  *    exactly, while cross-copy shingles can never collide, so true output
  *    grows ~K-fold, not K^2 cliques;
  *  - embeddings get deterministic per-(copy, element) noise large enough to
  *    decorrelate copies under cosine.
  *
  * Usage: Test/runMain graft.cli.ScaleStress [baseDir] [workRoot] [factors]
  * (defaults /root/testdata/sf0.1, /tmp/graft-scale, 4,16). Prints one
  * `[stress]` line per (query, scale): min seconds across reps + result rows.
  */
object ScaleStress {

  private def buildScaled(spark: SparkSession, base: String, out: String,
      k: Int): Unit = {
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val maxDoc = docs.agg(max("doc_id")).head().getLong(0) + 1
    val docCopies: Seq[DataFrame] = (0 until k).map { c =>
      if (c == 0) docs
      else docs.select(
        (col("doc_id") + lit(c * maxDoc)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"$$1_c$c").as("text"),
        col("lang"), col("source"),
        length(regexp_replace(col("text"), "(\\S+)", s"$$1_c$c")).cast("long")
          .as("n_chars"))
    }
    docCopies.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val maxVec = emb.agg(max("vec_id")).head().getLong(0) + 1
    val embCopies: Seq[DataFrame] = (0 until k).map { c =>
      if (c == 0) emb
      else emb.select(
        (col("vec_id") + lit(c * maxVec)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + lit(0.35) * sin(col("vec_id") * 131 + i * 17 + lit(c * 31)))
            .cast("float")).as("embedding"),
        col("label"))
    }
    embCopies.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val workRoot = if (args.length > 1) args(1) else "/tmp/graft-scale"
    val factors =
      if (args.length > 2) args(2).split(",").map(_.toInt).toSeq else Seq(4, 16)
    val reps = sys.env.getOrElse("SPARK_GRAFT_STRESS_REPS", "2").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // args(3): comma-separated query-name override (documents/embeddings-
    // derived queries only — the replica scales just those two tables)
    val queries =
      if (args.length > 3) args(3).split(",").map(_.trim).toSeq
      else Seq(
        "q31_minhash_near_dups", "q46_embedding_near_dups", "q69_semdedup",
        "q77_dedup_clusters", "q86_dup_spans", "q88_cut_spans",
        "q90_canonical_docs", "q112_fuzzy_join_corpus")
    val spark = graft.GraftSession.local(cpus, cpus)

    factors.foreach { k =>
      println(s"[stress] building ${k}x replica under $workRoot/x$k")
      buildScaled(spark, base, s"$workRoot/x$k", k)
    }
    // codegen warm-up, like Bench (falls back to the base dir when the
    // default smoke-scale directory is absent)
    val warmDir = {
      val d = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
      if (new java.io.File(d).isDirectory) d else base
    }
    queries.foreach(q => graft.SparkEntry.queries(q)(spark, warmDir).count())

    val dirs = ("x1", base) +: factors.map(k => (s"x$k", s"$workRoot/x$k"))
    for ((tag, dir) <- dirs; q <- queries) {
      val fn = graft.SparkEntry.queries(q)
      var rows = 0L
      val times = (1 to reps).map { _ =>
        spark.sharedState.cacheManager.clearCache()
        val t0 = System.nanoTime()
        rows = fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[stress] $q%-26s $tag%-4s min=${times.min}%7.2f s  " +
        f"reps=${times.map(t => f"$t%.2f").mkString("/")}  rows=$rows")
    }
    spark.stop()
  }
}
