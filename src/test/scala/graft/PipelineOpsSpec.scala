package graft

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // Corpus with planted exact + near duplicates.
  private lazy val docs = {
    val base = Tables.documents(spark, sfDir).select($"doc_id", $"text").limit(50)
    val exactDup = base.filter($"doc_id" === 0)
      .select(($"doc_id" + 1000).as("doc_id"), $"text")
    // near-dup: same text with one word appended
    val nearDup = base.filter($"doc_id" === 1)
      .select(($"doc_id" + 2000).as("doc_id"), concat($"text", lit(" extra")).as("text"))
    base.union(exactDup).union(nearDup)
  }

  test("seededBatch is bit-identical to per-seed hash calls (both hashes)") {
    // the r19 signature-loop fast path re-uses the shingle's UTF-8 bytes
    // across seeds; any drift from the one-seed-at-a-time form would change
    // minhash signatures (and the q31 oracle) silently
    val samples = Seq("alpha beta gamma", "", "héllo wörld é", "x",
      "a b c d e f g", "ümlaut\nnewline\ttab")
    for (hashFn <- Seq(Dedup.md5SeededHex, Dedup.xxSeededStr)) {
      val batch = Dedup.seededBatch(hashFn, 8)
      for (s <- samples)
        assert(batch(s).toSeq === (0 until 8).map(k => hashFn(k, s)))
    }
    // unknown functions take the generic fallback
    val custom = (k: Int, s: String) => s"$k|$s"
    assert(Dedup.seededBatch(custom, 3)("q").toSeq === Seq("0|q", "1|q", "2|q"))
  }

  test("line-level dedup cuts corpus-frequent lines, keeps order and blanks") {
    val rows = Seq(
      (1L, "BANNER\nalpha text\n\nfooter x"),
      (2L, "BANNER\nbeta text\n\nfooter x"),
      (3L, "BANNER\ngamma text\n\nfooter x"),
      (4L, "  BANNER  \ndelta text\nunique footer"), // trimmed match
      (5L, "BANNER"))                                // everything cut
    val got = Dedup.dedupLines(rows.toDF("doc_id", "text"), "doc_id", "text",
      minDf = 3).orderBy($"id").collect()
    // BANNER (df 5, trimmed) and "footer x" (df 3) are cut; blanks stay
    assert(got.map(_.getString(1)).toSeq == Seq(
      "alpha text\n", "beta text\n", "gamma text\n",
      "delta text\nunique footer", ""))
    // minDf above every df keeps everything byte-identical
    val keep = Dedup.dedupLines(rows.toDF("doc_id", "text"), "doc_id", "text",
      minDf = 9).orderBy($"id").collect()
    assert(keep.map(_.getString(1)).toSeq == rows.map(_._2))
  }

  test("exact dedup finds the planted duplicate") {
    val groups = Dedup.exact(docs, "text", "doc_id").filter($"dup_cnt" > 1).collect()
    assert(groups.length == 1)
    assert(groups.head.getAs[Long]("keep_id") == 0L)
    assert(groups.head.getAs[Long]("dup_cnt") == 2L)
  }

  test("minhash LSH surfaces near + exact dups and survives verify") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      numHashes = 32, bands = 16, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1000L)), s"exact pair missing from $pairs")
    assert(pairs.contains((1L, 2001L)), s"near pair missing from $pairs")
  }

  test("relational minhash pipeline agrees with the array-HOF formulation") {
    val hof = Dedup.minhashNearDups(docs, "doc_id", "text",
        numHashes = 8, bands = 4, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val rel = Dedup.minhashNearDupsRelational(docs, "doc_id", "text",
        numHashes = 8, bands = 4, threshold = 0.5,
        hashFn = Dedup.xxSeededStr)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // both catch the planted pairs; the exact candidate sets can differ
    // because the hash families differ, but verify keeps only real dups
    assert(hof.contains((0L, 1000L)) && rel.contains((0L, 1000L)))
    assert(hof.contains((1L, 2001L)) && rel.contains((1L, 2001L)))
  }

  test("jaccard verify kills low-similarity candidates") {
    val fake = Seq((1L, 2L)).toDF("id_a", "id_b")
    val corpus = Seq((1L, "a b c d e f"), (2L, "x y z w v u")).toDF("doc_id", "text")
    assert(Dedup.jaccardVerify(fake, corpus, "doc_id", "text", threshold = 0.3).count() == 0)
  }

  test("simhash: identical -> distance 0, near -> small, far -> large") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and once"),
      (3L, "completely unrelated words about spark query engines at scale"))
      .toDF("id", "text").withColumn("sh", Dedup.simhashExpr("text"))
    val sh = df.select($"id", $"sh").as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(1L)) == 0)
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(3L)))
  }

  test("relational simhash agrees bit-for-bit with the expression form") {
    val base = Tables.documents(spark, sfDir).select($"doc_id", $"text").limit(100)
      .union(Seq((9001L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val viaExpr = base.withColumn("sh", Dedup.simhashExpr("text"))
      .select($"doc_id", $"sh").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val viaRel = Dedup.simhashRelational(base, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(viaRel.size == viaExpr.size)
    assert(viaRel(9001L).isEmpty) // null text stays a NULL fingerprint row
    viaExpr.foreach { case (id, sh) =>
      assert(viaRel(id) == sh, s"doc $id: rel=${viaRel(id)} expr=$sh")
    }
  }

  test("docs shorter than the shingle size yield empty shingles, not a crash") {
    val short = Seq((1L, "one"), (2L, "two words"), (3L, "a b c d e f g h"),
      (4L, "a b c d e f g h")).toDF("doc_id", "text")
    // the regression: sequence(1, 0) counts DOWN in Spark, so slice() got an
    // out-of-range index and the whole pipeline threw on any short doc
    assert(short.select(size(Dedup.shingles(Dedup.tokens($"text"), 3)))
      .as[Int].collect().toSeq == Seq(0, 0, 6, 6))
    val pairs = Dedup.minhashNearDups(short, "doc_id", "text",
      numHashes = 8, bands = 4, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((3L, 4L))) // short docs pass through, long dup found
  }

  test("ngram jaccard posting-list join finds the near pair") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1000L)))
    assert(pairs.contains((1L, 2001L)))
  }

  test("minhash near-dups bound a 50k-member skewed bucket before aggregation") {
    // A boilerplate flood puts 50k docs in ONE (band, bucket) group. The
    // candidate stage must never materialize that bucket in an aggregation
    // buffer: membership is capped to `maxBucketSize` by a partitioned
    // row_number BEFORE collect_list (the sort-based window streams and
    // spills), and the overflow pairs row-wise with the bucket's first
    // member. Identical text maximizes the skew deterministically; the
    // buffer-bounding mechanics are the same for near-identical floods.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val peak = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) peak.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val flood = spark.range(50000).select($"id".as("doc_id"),
        lit("alpha beta gamma delta epsilon zeta").as("text"))
      val pairs = Dedup.minhashNearDupsRelational(flood, "doc_id", "text",
        numHashes = 4, bands = 2, threshold = 0.9,
        hashFn = Dedup.xxSeededStr,
        maxBucketSize = 64)
      val n = pairs.count()
      // C(64, 2) all-pairs inside the cap + one representative pair per
      // overflow member — linear in the overflow, never C(50k, 2)
      assert(n == 2016 + (50000 - 64), s"expected 51952 bounded pairs, got $n")
      val covered = pairs.select(explode(array($"id_a", $"id_b"))).distinct().count()
      assert(covered == 50000, "some member escaped the verify stage")
      // sanity ceiling on per-task peak execution memory: a task that
      // collected the whole bucket (ids + shingle sets) would blow past this
      assert(peak.get() < 512L * 1024 * 1024,
        s"per-task peak execution memory ${peak.get()} exceeds the 512 MiB ceiling")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("connectedComponents closes transitive chains and composes with minhash pairs") {
    // chain 0-1-2-3 (diameter 3), star 10-{11,12,13}, singleton 99
    val nodes = Seq(0L, 1L, 2L, 3L, 10L, 11L, 12L, 13L, 99L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L),
      (10L, 11L), (10L, 12L), (10L, 13L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 99L -> 99L))
    // end-to-end: minhash near-dup pairs on the planted corpus collapse the
    // original, its near-copy, and its exact copy into one cluster
    val mh = Dedup.minhashNearDups(docs, "doc_id", "text",
      numHashes = 32, bands = 16, threshold = 0.5)
    val clusters = Dedup.connectedComponents(docs.select($"doc_id"), "doc_id", mh)
      .as[(Long, Long)].collect().toMap
    assert(clusters(1000L) == 0L, "exact copy must join doc 0's cluster")
    assert(clusters(2001L) == 1L, "near copy must join doc 1's cluster")
  }

  test("crossDocDupShingleStats: shared shingles count once per doc") {
    val tiny = Seq(
      (1L, "a b c d"),                 // shingles {a b c, b c d}
      (2L, "a b c x"),                 // shingles {a b c, b c x}
      (3L, "p q r"),                   // shingles {p q r} — all unique
      (4L, "a b c a b c a b c"),       // distinct shingles {a b c, b c a, c a b}
      (5L, "too short")                // < 3 tokens: no shingles, no row
    ).toDF("doc_id", "text")
    val got = Dedup.crossDocDupShingleStats(tiny, "doc_id", "text", n = 3)
      .orderBy($"id").as[(Long, Long, Long, Double)].collect()
    assert(got.toSeq == Seq(
      (1L, 2L, 1L, 0.5),    // "a b c" is shared with docs 2 and 4
      (2L, 2L, 1L, 0.5),
      (3L, 1L, 0L, 0.0),
      (4L, 3L, 1L, 0.333333) // within-doc repeats counted once, only "a b c" shared
    ))
  }

  test("dupSpans merges duplicated shingle runs into maximal token spans") {
    val tiny = Seq(
      (1L, "a b c d e x y z"),     // shares "a b c d e" with doc 2
      (2L, "q q q a b c d e w"),   // ... at positions 4..6; "q q q" self-dups? no: one occurrence
      (3L, "m m m m"),             // within-doc repeat: "m m m" at pos 1 and 2
      (4L, "totally unique text here")
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpans(tiny, "doc_id", "text", n = 3, minCount = 2)
      .orderBy($"id", $"start_tok")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, 5L, 3L),   // shingles at pos 1,2,3 cover tokens [1,5]
      (2L, 4L, 8L, 3L),   // same run at pos 4,5,6 covers [4,8]
      (3L, 1L, 4L, 2L)    // "m m m" x2 merges to the whole doc [1,4]
    ))
    // distant duplicated runs stay separate spans
    val far = Seq(
      (1L, "u v w 1 2 3 4 5 6 7 8 9 u v w"),
      (2L, "u v w")
    ).toDF("doc_id", "text")
    val spans = Dedup.dupSpans(far, "doc_id", "text", n = 3, minCount = 2)
      .filter($"id" === 1).orderBy($"start_tok")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(spans == Seq((1L, 1L, 3L, 1L), (1L, 13L, 15L, 1L)))
  }

  test("canonicalPerCluster keeps one best-scored member per cluster") {
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 5L))
      .toDF("id", "cluster")
    val docs = Seq((1L, 10.0), (2L, 30.0), (3L, 30.0), (4L, 7.0), (5L, 2.0))
      .toDF("doc_id", "score")
    val got = Dedup.canonicalPerCluster(labels, docs, "doc_id", "score")
      .select($"cluster", $"doc_id").as[(Long, Long)].collect().toSet
    // cluster 1: docs 2 and 3 tie at 30.0 -> lower id wins
    assert(got == Set((1L, 2L), (4L, 4L), (5L, 5L)))
  }

  test("removeDupSpans cuts duplicated regions and drops fully-duplicated docs") {
    val tiny = Seq(
      (1L, "a b c d e x y z"),   // span [1,5] cut -> "x y z"
      (2L, "q w e a b c d e"),   // span [4,8] cut -> "q w e"
      (3L, "m m m m"),           // whole doc duplicated -> dropped
      (4L, "totally unique text here")
    ).toDF("doc_id", "text")
    val got = Dedup.removeDupSpans(tiny, "doc_id", "text", n = 3, minCount = 2)
      .orderBy($"id").as[(Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, "x y z"),
      (2L, 3L, "q w e"),
      (4L, 4L, "totally unique text here")))
  }

  test("tfidfTopK ranks in-doc-frequent, corpus-rare terms first") {
    import graft.functions.{TextFunctions => TF}
    val tiny = Seq(
      (1L, "x x y"),
      (2L, "y z"),
      (3L, "z z z w")
    ).toDF("doc_id", "text")
    val got = TF.tfidfTopK(tiny, "doc_id", "text", k = 2)
      .orderBy($"id", $"rk").as[(Long, String, Double, Int)].collect().toSeq
    // N=3; df: x=1 y=2 z=2 w=1
    assert(got.map(r => (r._1, r._2, r._4)) == Seq(
      (1L, "x", 1), (1L, "y", 2),
      (2L, "y", 1), (2L, "z", 2),
      (3L, "z", 1), (3L, "w", 2)))
    val byTerm = got.map(r => ((r._1, r._2), r._3)).toMap
    assert(math.abs(byTerm((1L, "x")) - 2 * math.log(3.0)) < 1e-5)
    assert(math.abs(byTerm((3L, "z")) - 3 * math.log(1.5)) < 1e-5)
    assert(math.abs(byTerm((3L, "w")) - math.log(3.0)) < 1e-5)
  }

  test("compiled shingle twin stays in lockstep on trailing-whitespace text") {
    // SQL trim strips SPACES only, so '...word\n' keeps its newline and
    // Spark's split (limit -1) emits a trailing empty token. The compiled
    // JVM twin must agree — Pattern.split's default limit 0 would drop it
    // and the relational/HOF pipelines would diverge.
    val tricky = Seq(
      (1L, "alpha beta gamma delta\n"),
      (2L, "alpha beta gamma delta"),      // same text, no newline
      (3L, "one two three four\n"),
      (4L, "one two three four"),
      (5L, "Iİstanbul words here\n")  // locale-sensitive uppercase chars
    ).toDF("doc_id", "text")
    // the invariant is the SHINGLE computation (LSH banding uses different
    // hash families across the two pipelines, so candidate sets may differ
    // at mid-similarity): Column shingles == compiled shingles, in order,
    // duplicates included
    val viaColumn = tricky
      .select($"doc_id", Dedup.shingles(Dedup.tokens($"text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    tricky.as[(Long, String)].collect().foreach { case (id, text) =>
      val viaJvm = Dedup.shingleStringsOf(text, 3).toSeq
      assert(viaJvm == viaColumn(id),
        s"doc $id: compiled $viaJvm != Column ${viaColumn(id)}")
    }
    // the newline-terminated doc and its bare twin genuinely DIFFER by the
    // trailing empty token (one extra shingle with a trailing space)
    assert(viaColumn(1L).size == viaColumn(2L).size + 1)
    assert(viaColumn(1L).last == "gamma delta ")
    // removeDupSpans: flat-computed spans and Column-token positions agree.
    // Doc 3 tokenizes to [one,two,three,four,""] (trailing empty from the
    // newline), doc 4 to [one,two,three,four]; the two shared 3-shingles
    // mark positions 1-2 => span [1,4] in BOTH docs. Doc 4 is fully covered
    // and drops; doc 3 keeps exactly its position-5 empty token.
    val cleaned = Dedup.removeDupSpans(tricky.filter($"doc_id".isin(3L, 4L)),
        "doc_id", "text", n = 3, minCount = 2)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap
    assert(cleaned == Map(3L -> ((1L, ""))),
      s"span positions must align between flat and Column token forms: $cleaned")
  }

  test("connectedComponents pointer-jumps: a 32-hop chain converges in O(log d) rounds") {
    // plain min-label propagation needs 31 rounds for a 32-node chain; the
    // adaptive label(label(v)) shortcut (4 plain rounds, then distance
    // doubles per round: 4 -> 10 -> 22 -> 46) must finish within 9
    // iterations including the no-change verify round
    val n = 32
    val nodes = (0L until n.toLong).toDF("doc_id")
    val chain = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, "doc_id", chain, maxIters = 9)
      .as[(Long, Long)].collect().toMap
    assert(got.values.forall(_ == 0L),
      s"chain must collapse to cluster 0 within 9 rounds: ${got.toSeq.sorted}")
  }

  test("connectedComponents labels match under reliable and local checkpoints") {
    // with a SparkContext checkpoint directory configured the loop upgrades
    // every generation from localCheckpoint to a reliable checkpoint — the
    // fault-tolerant mode for real-scale runs; labels must be identical
    val nodes = Seq(0L, 1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(nodes, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      val reliable = Dedup.connectedComponents(nodes, "doc_id", pairs)
        .as[(Long, Long)].collect().toMap
      assert(reliable == local,
        s"reliable-checkpoint labels diverged: $reliable vs $local")
      assert(local == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
        4L -> 4L, 5L -> 4L, 9L -> 9L))
    } finally {
      // SparkContext has no public unset; clear the shared session's dir so
      // later suites keep exercising the localCheckpoint path. A missing
      // setter must fail here: every later suite would otherwise run only
      // the reliable-checkpoint path without saying so
      val reset = sc.getClass.getMethods.find(_.getName == "checkpointDir_$eq")
      assert(reset.isDefined, "SparkContext.checkpointDir_= not found")
      reset.get.invoke(sc, None)
      assert(sc.getCheckpointDir.isEmpty)
    }
  }

  test("relational minhash and connectedComponents accept STRING doc ids") {
    // string UUID-ish ids: a silent long cast would null them all out and
    // the null equi-joins would return empty — assert real results instead
    val docs = Seq(
      ("doc-aaa", "the quick brown fox jumps over the lazy dog"),
      ("doc-bbb", "the quick brown fox jumps over the lazy dog"),
      ("doc-ccc", "completely unrelated text with different words entirely")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupsRelational(docs, "doc_id", "text",
        numHashes = 8, bands = 4, threshold = 0.5)
      .select($"id_a", $"id_b").as[(String, String)].collect().toSet
    assert(pairs == Set(("doc-aaa", "doc-bbb")),
      s"string-id near-dup pair missing: $pairs")
    val labels = Dedup.connectedComponents(docs.select($"doc_id"), "doc_id",
        pairs.toSeq.toDF("id_a", "id_b"))
      .as[(String, String)].collect().toMap
    assert(labels == Map("doc-aaa" -> "doc-aaa", "doc-bbb" -> "doc-aaa",
      "doc-ccc" -> "doc-ccc"))
  }
}

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")

  test("hash sample is deterministic and tracks the rate") {
    val a = Sampling.hashSample(docs, $"doc_id", 0.2).select($"doc_id").as[Long].collect().toSet
    val b = Sampling.hashSample(docs, $"doc_id", 0.2).select($"doc_id").as[Long].collect().toSet
    assert(a == b) // no RNG: same population -> same sample, every run
    val n = docs.count().toDouble
    assert(math.abs(a.size / n - 0.2) < 0.1, s"rate off: ${a.size / n}")
    // nested property: a lower-rate sample is a subset of a higher-rate one
    val small = Sampling.hashSample(docs, $"doc_id", 0.05)
      .select($"doc_id").as[Long].collect().toSet
    assert(small.subsetOf(a))
  }

  test("stratified cap bounds every stratum deterministically") {
    val out = Sampling.stratifiedCap(
      docs.withColumn("stratum", $"doc_id" % 5), $"stratum", $"doc_id", 7)
    val counts = out.groupBy($"stratum").count().as[(Long, Long)].collect().toMap
    assert(counts.values.forall(_ <= 7))
    assert(counts.size == 5)
    val again = Sampling.stratifiedCap(
      docs.withColumn("stratum", $"doc_id" % 5), $"stratum", $"doc_id", 7)
    assert(out.collect().toSet == again.collect().toSet)
  }

  test("repetition ratio: 0 for unique text, high for boilerplate loops") {
    import graft.functions.TextFunctions
    val df = Seq(
      (1L, "all words here are entirely different tokens"),
      (2L, "spam spam spam spam spam spam spam spam"),
      (3L, "x")) // shorter than the n-gram -> 0, not NaN
      .toDF("doc_id", "text")
      .select($"doc_id", TextFunctions.dupNgramRatio($"text", 2).as("r"))
    val r = df.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) == 0.0)
    assert(r(2L) > 0.8)
    assert(r(3L) == 0.0)
  }

  test("int8 quantization round-trips within one quantization step") {
    val emb = Tables.embeddings(spark, sfDir).limit(50)
    val back = emb.select($"vec_id", $"embedding",
        Similarity.dequantizeInt8(Similarity.quantizeInt8($"embedding")).as("dq"))
      .select($"vec_id",
        expr("aggregate(zip_with(embedding, dq, (a, b) -> abs(CAST(a AS DOUBLE) - b)), " +
          "CAST(0 AS DOUBLE), (acc, x) -> greatest(acc, x))").as("maxErr"),
        expr("aggregate(transform(embedding, x -> abs(CAST(x AS DOUBLE))), " +
          "CAST(0 AS DOUBLE), (acc, x) -> greatest(acc, x))").as("mx"))
      .collect()
    back.foreach { r =>
      val (err, mx) = (r.getDouble(1), r.getDouble(2))
      assert(err <= mx / 127.0 * 0.5 + 1e-9, s"vec ${r.getLong(0)}: err $err vs scale ${mx / 127}")
    }
  }

  test("decontamination drops shingle-sharing docs via a broadcast probe") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated text about spark engines"),
      (3L, "prefix words then the quick brown fox appears here")) // shares a shingle with bench
      .toDF("doc_id", "text")
    val bench = Seq((100L, "watch the quick brown fox run")).toDF("doc_id", "text")
    val kept = Sampling.decontaminate(train, "doc_id", "text", bench, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(2L), s"expected only the clean doc, got $kept")
    // scale shape: the benchmark probe must be a broadcast join
    val plan = Sampling.decontaminate(train, "doc_id", "text", bench, "doc_id", "text")
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("BroadcastHashJoin"), "bench shingle probe is not broadcast")
  }

  test("bloom-prefiltered decontamination never false-drops, even saturated") {
    // corpus big enough that a 64-bit filter (the expectedShingles=1 floor)
    // saturates — nearly every probe is a Bloom false positive, so this
    // asserts the exact join kills them all: the result must equal the
    // exact variant's on both the kept and dropped sides
    val train = docs.limit(300)
    val bench = docs.filter($"doc_id" % 29 === 0).limit(10)
    val exact = Sampling.decontaminate(train, "doc_id", "text",
      bench, "doc_id", "text").select($"doc_id").as[Long].collect().toSet
    val saturated = Sampling.decontaminateBloom(train, "doc_id", "text",
      bench, "doc_id", "text", expectedShingles = 1L, fpp = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(saturated == exact, "saturated Bloom diverged from the exact result")
    // and a well-sized filter agrees too (the q58 configuration)
    val sized = Sampling.decontaminateBloom(train, "doc_id", "text",
      bench, "doc_id", "text", expectedShingles = 100000L)
      .select($"doc_id").as[Long].collect().toSet
    assert(sized == exact)
    // empty benchmark: nothing drops
    val none = Sampling.decontaminateBloom(train, "doc_id", "text",
      bench.filter(lit(false)), "doc_id", "text")
    assert(none.count() == train.count())
  }

  test("writeShards: bounded file sizes, deterministic membership") {
    val tmp = java.nio.file.Files.createTempDirectory("shards").toString + "/out"
    val docs500 = Tables.documents(spark, sfDir).select($"doc_id", $"source")
    Sampling.writeShards(docs500, $"doc_id", tmp,
      rowsPerShard = 60, expectedRows = 500, filesPerTask = 2)
    val files = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).sorted
    assert(files.length >= 500 / 60, s"too few shards: ${files.length}")
    files.foreach { f =>
      val n = spark.read.parquet(f.getPath).count()
      assert(n <= 60, s"${f.getName} holds $n rows > rowsPerShard")
    }
    // nothing lost, nothing duplicated
    val back = spark.read.parquet(tmp).select($"doc_id").as[Long].collect().sorted
    val orig = docs500.select($"doc_id").as[Long].collect().sorted
    assert(back.toSeq == orig.toSeq)
    // deterministic: a rewrite produces identical per-file membership
    val firstRun = files.map(f => spark.read.parquet(f.getPath)
      .select($"doc_id").as[Long].collect().toSet).toSeq
    Sampling.writeShards(docs500, $"doc_id", tmp,
      rowsPerShard = 60, expectedRows = 500, filesPerTask = 2)
    val files2 = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).sorted
    val secondRun = files2.map(f => spark.read.parquet(f.getPath)
      .select($"doc_id").as[Long].collect().toSet).toSeq
    assert(firstRun.map(_.size).sum == secondRun.map(_.size).sum)
    assert(firstRun.flatten.toSet == secondRun.flatten.toSet)
  }

  test("mixtureSample: per-row rates nest and match hashSample at equal rate") {
    val docs500 = Tables.documents(spark, sfDir).select($"doc_id", $"source")
    val half = Sampling.mixtureSample(docs500.withColumn("r", lit(0.5)), $"doc_id", $"r")
      .select($"doc_id").as[Long].collect().toSet
    val quarter = Sampling.mixtureSample(docs500.withColumn("r", lit(0.25)), $"doc_id", $"r")
      .select($"doc_id").as[Long].collect().toSet
    assert(quarter.subsetOf(half), "lower-rate sample must nest inside higher")
    val viaHash = Sampling.hashSample(docs500, $"doc_id", 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(half == viaHash, "constant-rate mixture must equal hashSample")
    // rate 1.0 keeps everything, rate 0 keeps nothing
    assert(Sampling.mixtureSample(docs500.withColumn("r", lit(1.0)), $"doc_id", $"r")
      .count() == docs500.count())
    assert(Sampling.mixtureSample(docs500.withColumn("r", lit(0.0)), $"doc_id", $"r")
      .count() == 0)
  }

  test("packSequences bins by exclusive prefix sum within a shard") {
    // one shard so the packing order is just doc_id; tc=100 each, budget 250:
    // exclusive cums 0,100,200,300,400,500 -> bins 0,0,0,1,1,2
    val docs6 = (0L until 6L).map(i => (i, 100L)).toDF("doc_id", "tc")
    val got = Sampling.packSequences(docs6, $"doc_id", $"tc",
        maxTokensPerBin = 250L, shards = 1)
      .select($"doc_id", $"bin").as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 2L))
    // multi-shard: every doc assigned exactly once, and within each shard a
    // bin's token load never exceeds budget + one document (the documented
    // overrun bound of floor-of-prefix packing)
    val many = (0L until 500L).map(i => (i, 37L + i % 90)).toDF("doc_id", "tc")
    val packed = Sampling.packSequences(many, $"doc_id", $"tc",
      maxTokensPerBin = 400L, shards = 4)
    assert(packed.count() == 500)
    val over = packed.groupBy($"shard", $"bin")
      .agg(sum($"tc").as("tot"), max($"tc").as("mx"))
      .filter($"tot" >= lit(400L) + $"mx").count()
    assert(over == 0, "a bin exceeded budget by more than one document")
  }

  test("chunkWindows covers every token; short docs yield one chunk") {
    import graft.functions.{TextFunctions => TF}
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks
      (2L, "a b"),                                    // shorter than a window
      (3L, (1 to 8).map(i => s"u$i").mkString(" "))   // exact multiple
    ).toDF("doc_id", "text")
    val got = docs.select($"doc_id", explode(TF.chunkWindows($"text", 4, 2)).as("c"))
      .select($"doc_id", $"c.start", $"c.chunk")
      .as[(Long, Int, String)].collect().toSeq.sorted
    assert(got.filter(_._1 == 1L).map(_._2) == Seq(1, 3, 5, 7),
      "starts must stride to cover the tail")
    assert(got.filter(_._1 == 1L).last._3 == "t7 t8 t9 t10")
    assert(got.filter(_._1 == 2L) == Seq((2L, 1, "a b")))
    assert(got.filter(_._1 == 3L).map(_._2) == Seq(1, 3, 5),
      "an exact multiple must not emit a trailing empty chunk")
    // every token appears in >= 1 chunk
    val covered = got.filter(_._1 == 1L).flatMap(_._3.split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"t$i").toSet)
  }

  test("chunkWindowsFlat is bit-identical to the Column form on the fixture") {
    import graft.functions.{TextFunctions => TF}
    val docs500 = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val viaColumn = docs500
      .select($"doc_id", explode(TF.chunkWindows($"text", 16, 4)).as("c"))
      .select($"doc_id", $"c.start", $"c.chunk")
      .as[(Long, Int, String)].collect().toSet
    val viaFlat = TF.chunkWindowsFlat(docs500, "doc_id", "text", 16, 4)
      .select($"id", $"start", $"chunk")
      .as[(Long, Int, String)].collect().toSet
    assert(viaFlat == viaColumn)
    // n_toks matches a re-split of the chunk
    val bad = TF.chunkWindowsFlat(docs500, "doc_id", "text", 16, 4)
      .filter(size(split($"chunk", " ")) =!= $"n_toks").count()
    assert(bad == 0)
    // trailing-newline text: SQL trim keeps the newline, Spark split emits a
    // trailing empty token — the compiled twin (split limit -1) must agree
    val nl = Seq((1L, "a b c d e\n"), (2L, "a b c d e")).toDF("doc_id", "text")
    val nlCol = nl.select($"doc_id", explode(TF.chunkWindows($"text", 4, 2)).as("c"))
      .select($"doc_id", $"c.start", $"c.chunk")
      .as[(Long, Int, String)].collect().toSet
    val nlFlat = TF.chunkWindowsFlat(nl, "doc_id", "text", 4, 2)
      .select($"id", $"start", $"chunk")
      .as[(Long, Int, String)].collect().toSet
    assert(nlFlat == nlCol, s"flat $nlFlat != column $nlCol on trailing-newline text")
    // doc 1 has 6 tokens (trailing empty counts): its start-3 window carries
    // the empty token ("c d e " vs doc 2's "c d e")
    assert(nlFlat.contains((1L, 3, "c d e ")) && nlFlat.contains((2L, 3, "c d e")),
      s"trailing empty token must ride the final window: $nlFlat")
  }

  test("curriculumBuckets raises a directed error on all-null scores") {
    import graft.operators.Sampling
    val noScores = Seq((1L, null: java.lang.Double), (2L, null: java.lang.Double))
      .toDF("id", "score")
    val e = intercept[IllegalArgumentException] {
      Sampling.curriculumBuckets(noScores, "score", k = 4)
    }
    assert(e.getMessage.contains("no non-null"), e.getMessage)
  }

  test("curriculumBuckets assigns equal-mass quantile tiers") {
    import graft.operators.Sampling
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "score")
    val got = Sampling.curriculumBuckets(df, "score", k = 4)
      .groupBy($"bucket").agg(count(lit(1)).as("n"),
        min($"score").as("lo"), max($"score").as("hi"))
      .orderBy($"bucket")
      .as[(Int, Long, Double, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(0, 1, 2, 3))
    assert(got.map(_._2).sum == 100)
    // quartiles of 1..100: interpolated thresholds 25.75/50.5/75.25
    assert(got.map(_._2) == Seq(25L, 25L, 25L, 25L))
    assert(got(1)._3 == 26.0 && got(2)._3 == 51.0)
    // the t-digest path stays close to exact (same tier for most rows)
    val approx = Sampling.curriculumBuckets(df, "score", k = 4, exact = false)
      .filter($"bucket" === 0).count()
    assert(math.abs(approx - 25L) <= 2)
  }

  test("gopherQualityRules flags each failure mode independently") {
    import graft.functions.{TextFunctions => TF}
    val good = ("ok " * 60).trim.replace("ok", "token") // 60 words, len 5, alpha
    val docs = Seq(
      (1L, good),                                    // passes everything... except dup (one word repeated!)
      (2L, "too short"),                             // fails word-count band
      (3L, ("x " * 60).trim),                        // mean word len 1 -> fails
      (4L, (("99 " * 55).trim + " word word2 word3 word4 word5")), // mostly numeric -> fails alpha
      (5L, ("word " * 50).trim + " " + ("# " * 10).trim), // 60 words, 10 hashes -> fails symbol
      (6L, "")                                       // empty: every positive rule fails
    ).toDF("doc_id", "text")
    val got = TF.gopherQualityRules(docs, "doc_id", "text")
      .orderBy($"id")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(1L)._3 == 1 && byId(1L)._4 == 1 && byId(1L)._5 == 1 && byId(1L)._6 == 1)
    assert(byId(1L)._7 == 0, "a single repeated word is pure duplicate bigrams")
    assert(byId(2L)._3 == 0, "word-count band")
    assert(byId(3L)._4 == 0, "mean word length band")
    assert(byId(4L)._5 == 0, "alphabetic-word fraction")
    assert(byId(4L)._3 == 1, "60 words is in band")
    assert(byId(5L)._6 == 0, "symbol ratio")
    assert(byId(6L)._2 == 0 && byId(6L)._8 == 0, "empty doc never keeps")
    assert(got.forall(r => r._8 == r._3 * r._4 * r._5 * r._6 * r._7), "keep is the conjunction")
  }

  test("gopherQualityRulesFlat is bit-identical to the Column form") {
    import graft.functions.{TextFunctions => TF}
    // fixture corpus + targeted edge docs: null text, empty, trailing
    // newline (Spark split keeps the trailing empty token), tabs, hashes
    val edge = Seq(
      (900001L, null: String, "web"),
      (900002L, "", "web"),
      (900003L, ("word " * 60).trim + "\n", "book"),
      (900004L, "a\tb\tc " + ("token " * 55).trim, "book"),
      (900005L, ("# " * 30).trim + " " + ("w " * 30).trim, "web")
    ).toDF("doc_id", "text", "source")
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text", $"source").union(edge)
    val viaColumn = TF.gopherQualityRules(docs, "doc_id", "text",
        carry = Seq("source"))
      .collect().map(r => r.toSeq).toSet
    val viaFlat = TF.gopherQualityRulesFlat(docs, "doc_id", "text",
        carry = Seq("source"))
      .collect().map(r => r.toSeq).toSet
    assert(viaFlat == viaColumn,
      s"flat vs Column diverge: ${(viaFlat -- viaColumn).take(3)} / ${(viaColumn -- viaFlat).take(3)}")
    // schemas agree too (names, types, order)
    assert(TF.gopherQualityRulesFlat(docs, "doc_id", "text", carry = Seq("source"))
      .schema.map(f => (f.name, f.dataType)) ==
      TF.gopherQualityRules(docs, "doc_id", "text", carry = Seq("source"))
        .schema.map(f => (f.name, f.dataType)))
  }

  test("dsirWeights scores target-domain docs above off-domain docs") {
    import graft.operators.Sampling
    val raw = Seq(
      (1L, "alpha beta alpha beta"),     // pure target vocabulary
      (2L, "zeta eta zeta eta"),         // pure off-domain vocabulary
      (3L, "alpha beta zeta eta")        // mixed
    ).toDF("doc_id", "text")
    val target = Seq((10L, "alpha beta alpha beta alpha")).toDF("doc_id", "text")
    val got = Sampling.dsirWeights(raw, "doc_id", "text", target, "text", buckets = 16)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(got.map(_._2).toSeq == Seq(4L, 4L, 4L))
    val byId = got.map(r => r._1 -> r._3).toMap
    assert(byId(1L) > byId(3L) && byId(3L) > byId(2L),
      s"expected target > mixed > off-domain, got $byId")
    // hand check doc 1: buckets of alpha/beta, smoothed ratios
    def bucket(w: String) = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString
      Integer.parseInt(h, 16) % 16
    }
    val tCnt = Seq("alpha", "beta", "alpha", "beta", "alpha").map(bucket)
      .groupBy(identity).view.mapValues(_.size).toMap
    val rAll = raw.as[(Long, String)].collect().flatMap(_._2.split(" ")).map(bucket)
      .groupBy(identity).view.mapValues(_.size).toMap
    val expected1 = Seq("alpha", "beta").map { w =>
      val b = bucket(w)
      2.0 * (math.log((tCnt.getOrElse(b, 0) + 1.0) / (5 + 16.0))
        - math.log((rAll(b) + 1.0) / (12 + 16.0)))
    }.sum
    assert(math.abs(byId(1L) - expected1) < 1e-5, s"${byId(1L)} vs $expected1")
  }

  test("bpePairStats counts frequency-weighted adjacent char pairs") {
    import graft.functions.{TextFunctions => TF}
    val docs = Seq((1L, "low lower"), (2L, "low lowest"), (3L, "x")).toDF("doc_id", "text")
    // words: low(2), lower(1), lowest(1); "x" dropped (length < 2)
    // lo/ow: 2+1+1 = 4 each; we: 2; er/es/st: 1
    val got = TF.bpePairStats(docs, "text", 10)
      .as[(String, Long)].collect().toSeq
    assert(got.take(2) == Seq(("lo", 4L), ("ow", 4L)))
    assert(got.contains(("we", 2L)))
    assert(Seq("er", "es", "st").forall(p => got.contains((p, 1L))))
    assert(!got.exists(_._1.contains("x")), "single-char words carry no pairs")
  }

  test("bpeTrainMerges + bpeEncode reproduce classic BPE by hand") {
    import graft.functions.{TextFunctions => TF}
    // Sennrich's canonical example shape: 'low'x3, 'lower', 'lowest'.
    // Round 1: (l,o) and (o,w) tie at 5 -> pair-asc tie-break picks (l,o);
    // then (lo,w)=5, (low,e)=2, and a 3-way count-1 tie won by (lowe,r).
    val docs = Seq((1L, "low low low lower lowest")).toDF("doc_id", "text")
    val merges = TF.bpeTrainMerges(docs, "text", numMerges = 4)
    assert(merges == Seq(("l", "o"), ("lo", "w"), ("low", "e"), ("lowe", "r")),
      s"unexpected merge order: $merges")
    val enc = TF.bpeEncode(Seq((1L, "lowest lower low")).toDF("doc_id", "text"),
        "doc_id", "text", merges)
      .select($"n_subwords", $"subwords").as[(Long, Seq[String])].head()
    assert(enc == ((5L, Seq("lowe", "s", "t", "lower", "low"))), s"encoded: $enc")
    // training exhausts gracefully when no pair repeats
    val tiny = Seq((1L, "ab")).toDF("doc_id", "text")
    assert(TF.bpeTrainMerges(tiny, "text", numMerges = 5) == Seq(("a", "b")))
    // null text encodes to zero subwords
    val nullEnc = TF.bpeEncode(Seq((1L, null: String)).toDF("doc_id", "text"),
        "doc_id", "text", merges)
      .select($"n_subwords").as[Long].head()
    assert(nullEnc == 0L)
  }

  test("exact local BPE trainer matches sequential distributed greedy order") {
    import graft.functions.{TextFunctions => TF}
    // q92's own fixture: the two-level trainer (vocab collect + driver
    // incremental merge loop — the production 32k-merge path) must
    // reproduce the strict-greedy merge list the golden file pins.
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val seq12 = TF.bpeTrainMerges(docs, "text", numMerges = 12)
    val loc12 = TF.bpeTrainMergesExact(docs, "text", numMerges = 12)
    assert(loc12 == seq12, s"local trainer diverges:\n$loc12\nvs\n$seq12")
    // cascade chain (each merge creates the next round's top pair) — the
    // hardest order-preservation case
    val casc = Seq((1L, "low low low lower lowest")).toDF("doc_id", "text")
    assert(TF.bpeTrainMergesExact(casc, "text", 4) ==
      Seq(("l", "o"), ("lo", "w"), ("low", "e"), ("lowe", "r")))
    // exhaustion + the maxVocab directed error
    assert(TF.bpeTrainMergesExact(Seq((1L, "ab")).toDF("doc_id", "text"),
      "text", 5) == Seq(("a", "b")))
    val err = intercept[IllegalArgumentException] {
      TF.bpeTrainMergesExact(docs, "text", 2, maxVocab = 3)
    }
    assert(err.getMessage.contains("maxVocab"), err.getMessage)
    // exact boundary, deterministically: maxVocab == distinct words trains;
    // one fewer is the directed error naming the true count (the guard
    // COUNTS the vocab — it no longer depends on which rows a limit kept)
    val four = Seq((1L, "aa bb cc dd")).toDF("doc_id", "text")
    assert(TF.bpeTrainMergesExact(four, "text", 1, maxVocab = 4) ==
      Seq(("a", "a")))
    val over = intercept[IllegalArgumentException] {
      TF.bpeTrainMergesExact(four, "text", 1, maxVocab = 3)
    }
    assert(over.getMessage.contains("has 4 distinct words"), over.getMessage)
  }

  test("batched BPE training: non-interacting batches, bounded rounds") {
    import graft.functions.{TextFunctions => TF}
    // mutually non-interacting pairs: one round accepts the whole batch
    val flat = Seq((1L, "ab ab ab cd cd cd ef ef ef gh gh gh"))
      .toDF("doc_id", "text")
    val (m4, r4) = TF.bpeTrainMergesWithRounds(flat, "text", 4, batchSize = 4)
    assert(m4 == Seq(("a", "b"), ("c", "d"), ("e", "f"), ("g", "h")))
    assert(r4 == 1, s"disjoint batch should be a single round, took $r4")
    // shared RIGHT symbol does not interact: 'e r' and 'o r' can never
    // overlap, so both batch in round 1 — the precise predicate, not the
    // over-strict any-shared-symbol one
    val shr = Seq((1L, "er er er or or xy")).toDF("doc_id", "text")
    val (mShr, rShr) = TF.bpeTrainMergesWithRounds(shr, "text", 2, batchSize = 2)
    assert(mShr == Seq(("e", "r"), ("o", "r")) && rShr == 1,
      s"shared-right pairs should batch: $mShr in $rShr rounds")
    // genuinely colliding pairs defer: (a,b) and (b,c) share the b
    // position, so round 1 accepts only (a,b); round 2 recounts and picks
    // the successor (ab,c) — exactly the sequential result
    val clash = Seq((1L, "abc abc abc")).toDF("doc_id", "text")
    val seqC = TF.bpeTrainMerges(clash, "text", numMerges = 2)
    val (batC, _) = TF.bpeTrainMergesWithRounds(clash, "text", 2, batchSize = 2)
    assert(seqC == Seq(("a", "b"), ("ab", "c")))
    assert(batC == seqC, s"collision deferral diverged: $batC vs $seqC")
    // round-count bound on the q92 fixture: 12 merges at batch 4 in <= the
    // ceil(12/4)=3 rounds the batching contract promises (cascade-created
    // pairs may reorder the LIST relative to strict greedy — that's the
    // documented approximation; exact order lives in bpeTrainMergesExact)
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val (bat12, rounds12) =
      TF.bpeTrainMergesWithRounds(docs, "text", numMerges = 12, batchSize = 4)
    assert(bat12.size == 12 && rounds12 <= 3,
      s"${bat12.size} merges in $rounds12 rounds")
  }

  test("q92 golden file: BPE train+encode output is pinned row for row") {
    // iterative merge training has no DuckDB oracle (driver records
    // rows-only), so pin the subword-frequency result like q62. Regenerate
    // after an INTENDED change with:
    //   sbt 'runMain graft.cli.Harness dump /root/testdata/sf0.001 \
    //     q92_bpe_encode src/test/resources/golden/q92_bpe_encode_sf0001.csv'
    val got = SparkEntry.queries("q92_bpe_encode")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val golden = {
      val src = scala.io.Source.fromInputStream(
        getClass.getResourceAsStream("/golden/q92_bpe_encode_sf0001.csv"))
      try src.getLines().drop(1).map { l =>
        val i = l.lastIndexOf(',')
        (l.substring(0, i), l.substring(i + 1).toLong)
      }.toVector
      finally src.close()
    }
    assert(got == golden,
      s"q92 rows diverge from the committed golden (first diff: " +
        got.zip(golden).find { case (x, y) => x != y }.toString + ")")
  }

  test("vocabStats counts types, hapaxes, and TTR per group") {
    import graft.functions.{TextFunctions => TF}
    val docs = Seq(
      ("s1", "a a b"), ("s1", "b c"),   // s1: 5 tokens, types {a,b,c}, hapax {c}
      ("s2", "x y")                     // s2: 2 tokens, both hapax
    ).toDF("source", "text")
    val got = TF.vocabStats(docs, "source", "text")
      .orderBy($"g").as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(("s1", 5L, 3L, 1L, 0.6), ("s2", 2L, 2L, 2L, 1.0)))
  }

  test("bigramLmScore: Laplace-smoothed NLL matches hand computation") {
    import graft.functions.{TextFunctions => TF}
    val train = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    // c2: {a b: 2, b a: 1, a c: 1}; c1: {a: 3, b: 1}; V = 3
    val score = Seq((10L, "a b c"), (11L, "z z"), (12L, "solo"))
      .toDF("doc_id", "text")
    val got = TF.bigramLmScore(score, "doc_id", "text", train, "text")
      .orderBy($"id").as[(Long, Long, Double)].collect().toSeq
    // doc 10: ln((3+3)/(2+1)) + ln((1+3)/(0+1)) over 2 = 1.039721
    // doc 11: unseen context -> ln((0+3)/(0+1)) = ln 3 = 1.098612
    // doc 12: one token, no bigrams, drops out
    assert(got == Seq((10L, 2L, 1.039721), (11L, 1L, 1.098612)))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sfDir)
  private lazy val queryVec: Seq[Float] =
    emb.filter($"vec_id" === 0).select($"embedding").as[Seq[Float]].head()

  test("collectPlanes guards the positional slicing against id gaps") {
    // q81/q94 slice ONE collect into query + codebooks positionally; a
    // missing or duplicated vec_id would silently shift every slice — the
    // guard must fail loudly instead
    val ok = QueriesML.collectPlanes(emb, 1 to 4)
    assert(ok.length == 4 && ok.forall(_.nonEmpty))
    val gapped = emb.filter($"vec_id" =!= 2)
    val e = intercept[IllegalArgumentException] {
      QueriesML.collectPlanes(gapped, 1 to 4)
    }
    assert(e.getMessage.contains("must be present"), e.getMessage)
  }

  test("brute force: self similarity tops at 1.0") {
    val top = Similarity.bruteForceTopK(emb, "embedding", "vec_id", queryVec, 5).collect()
    assert(top.head.getAs[Long]("vec_id") == 0L)
    assert(math.abs(top.head.getAs[Double]("cos_sim") - 1.0) < 1e-6)
    assert(top.length == 5)
  }

  test("LSH top-k recalls most of the brute-force top-k") {
    val planes = emb.filter($"vec_id".isin(1, 2, 3, 4))
      .orderBy($"vec_id").select($"embedding").as[Seq[Float]].collect().toSeq
    val brute = Similarity.bruteForceTopK(emb, "embedding", "vec_id", queryVec, 10)
      .select($"vec_id").as[Long].collect().toSet
    val lsh = Similarity.lshTopK(emb, "embedding", "vec_id", queryVec, planes, 10)
      .select($"vec_id").as[Long].collect().toSet
    assert(lsh.contains(0L))
    assert((brute & lsh).size >= 3, s"recall too low: brute=$brute lsh=$lsh")
  }

  test("IVF probes nearest cells and finds the query's own vector") {
    val centroids = emb.filter($"vec_id".isin(5, 6, 7, 8))
      .orderBy($"vec_id").select($"embedding").as[Seq[Float]].collect().toSeq
    val got = Similarity.ivfTopK(emb, "embedding", "vec_id", queryVec, centroids, 5, nprobe = 2)
      .select($"vec_id").as[Long].collect()
    assert(got.contains(0L))
  }

  test("cosineNearDupPairs finds planted duplicate vectors") {
    val dup = emb.filter($"vec_id" === 3)
      .select(($"vec_id" + 9000).as("vec_id"), $"embedding", $"label")
    val planes = emb.filter($"vec_id".isin(1, 2)).orderBy($"vec_id")
      .select($"embedding").as[Seq[Float]].collect().toSeq
    val pairs = Similarity.cosineNearDupPairs(emb.union(dup), "embedding", "vec_id",
      planes, threshold = 0.999)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((3L, 9003L)))
  }

  test("kmeans centroid training reduces the IVF objective and stays deterministic") {
    val k = 4
    val seeds = emb.orderBy($"vec_id").limit(k)
      .select($"embedding").as[Seq[Float]].collect().toSeq
    val trained = Similarity.kmeansCentroids(emb, "embedding", "vec_id", k, iters = 3)
    val before = Similarity.distortion(emb, "embedding", seeds)
    val after = Similarity.distortion(emb, "embedding", trained)
    assert(after < before, s"distortion did not improve: $before -> $after")
    // deterministic: same seeds, same result
    val again = Similarity.kmeansCentroids(emb, "embedding", "vec_id", k, iters = 3)
    assert(again == trained)
    // trained centroids drive the existing IVF search path
    val got = Similarity.ivfTopK(emb, "embedding", "vec_id", queryVec, trained, 5)
      .select($"vec_id").as[Long].collect()
    assert(got.contains(0L))
  }

  test("cosineNearDupPairs bounds pair counts on a pathological bucket") {
    // 200 identical vectors land in ONE bucket; with cap 20 the pair explode
    // must emit C(20,2) + 180 representative pairs = 370, not C(200,2) =
    // 19900 — AND every member must still appear in at least one pair (a
    // member reported in zero pairs would silently survive dedup as unique)
    val base = emb.filter($"vec_id" === 3).select($"embedding").as[Seq[Float]].head()
    val flood = spark.createDataFrame(
      (0 until 200).map(i => (i.toLong, base))).toDF("vec_id", "embedding")
    val planes = emb.filter($"vec_id".isin(1, 2)).orderBy($"vec_id")
      .select($"embedding").as[Seq[Float]].collect().toSeq
    val pairs = Similarity.cosineNearDupPairs(flood, "embedding", "vec_id",
      planes, threshold = 0.999, maxBucketSize = 20)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    assert(pairs.length == 190 + 180, s"expected 370 capped pairs, got ${pairs.length}")
    val covered = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(covered == (0L until 200L).toSet, "some member escaped the verify stage")
  }

  test("residual PQ (IVF-PQ layout) beats plain PQ on off-center clusters") {
    // two coarse cells far apart; every vector is centroid + a (+-1)^4
    // offset, and the codebooks are exactly the offset grid — so residual
    // coding reconstructs EXACTLY while plain PQ (same code budget) cannot
    // represent the 100-offset cluster at all
    val cents: Seq[Seq[Float]] = Seq(Seq(0f, 0f, 0f, 0f), Seq(100f, 100f, 100f, 100f))
    val grid: Seq[Seq[Float]] = Seq(Seq(-1f, -1f), Seq(-1f, 1f), Seq(1f, -1f), Seq(1f, 1f))
    val cbs = Seq(grid, grid)
    val offs = for (a <- Seq(-1f, 1f); b <- Seq(-1f, 1f); c <- Seq(-1f, 1f);
      d <- Seq(-1f, 1f)) yield Seq(a, b, c, d)
    val rows = for ((cent, ci) <- cents.zipWithIndex; (o, oi) <- offs.zipWithIndex)
      yield ((ci * 100 + oi).toLong, cent.zip(o).map { case (x, y) => x + y })
    val df = rows.toDF("vec_id", "embedding")
    val codes = Similarity.pqCodesResidual(df, "embedding", "vec_id", cents, cbs)
      .as[(Long, Int, Int, Int)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(codes(115L) == ((1, 3, 3)), s"offset (1,1,1,1): ${codes(115L)}")
    assert(codes(0L) == ((0, 0, 0)), s"offset (-1,-1,-1,-1): ${codes(0L)}")
    // query near cell 1's (1,1,1,1) member: residual ADC ranks the true
    // neighborhood exactly (reconstruction error is zero on this fixture)
    val query = Seq(100.9f, 101f, 101f, 101f)
    val res = Similarity.pqAdcResidualTopK(df, "embedding", "vec_id", cents,
        cbs, query, 3, nprobe = 1)
      .select($"vec_id").as[Long].collect().toSeq
    assert(res == Seq(115L, 107L, 111L), s"residual top3: $res")
    assert(res.forall(_ >= 100L), "nprobe=1 must stay inside the query's cell")
    // plain PQ with the same codebooks: every cell-1 row collapses to code
    // (3,3), ties break by id — the true nearest (115) is unreachable
    val plain = Similarity.pqAdcTopK(df, "embedding", "vec_id", cbs, query, 3)
      .select($"vec_id").as[Long].collect().toSeq
    assert(!plain.contains(115L), s"plain PQ should not resolve the cluster: $plain")
  }

  test("literal-model guards: oversized models fail with a directed error") {
    val fat = Seq.fill(1025)(Seq.fill(1024)(0f)) // 1025*1024 > 2^20
    val df = Seq((1L, Seq.fill(1024)(0f))).toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.ivfCell(org.apache.spark.sql.functions.col("embedding"), fat)
    }
    assert(e1.getMessage.contains("MaxModelLiteralElems"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.hyperplaneBucket(org.apache.spark.sql.functions.col("embedding"), fat)
    }
    assert(e2.getMessage.contains("MaxModelLiteralElems"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      Similarity.pqCodes(df, "embedding", "vec_id", Seq(fat, fat))
    }
    assert(e3.getMessage.contains("MaxModelLiteralElems"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException] {
      Similarity.pcaProject(df, "embedding",
        Similarity.PcaModel(Array.fill(1024)(0.0), Array.fill(1025)(1.0),
          Array.fill(1025)(Array.fill(1024)(0.0))))
    }
    assert(e4.getMessage.contains("MaxModelLiteralElems"), e4.getMessage)
  }

  test("pqCodes assigns per-subspace nearest codebook entries") {
    val vecs = Seq(
      (1L, Seq(0.0f, 10.0f)),
      (2L, Seq(5.0f, -3.0f))
    ).toDF("vec_id", "embedding")
    val codebooks = Seq(
      Seq(Seq(0.0f), Seq(4.0f)),   // subspace 0 (dim 1)
      Seq(Seq(10.0f), Seq(0.0f)))  // subspace 1 (dim 2)
    val rows = Similarity.pqCodes(vecs, "embedding", "vec_id", codebooks)
      .as[(Long, Int, Int)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, 0, 0), (2L, 1, 1)))
    // codebooks trained per-subspace with the existing kmeans compose
    val emb = Tables.embeddings(spark, sfDir)
    val sub0 = emb.select($"vec_id", expr("slice(embedding, 1, 32)").as("embedding"))
    val trained0 = Similarity.kmeansCentroids(sub0, "embedding", "vec_id", k = 4, iters = 2)
    assert(trained0.forall(_.length == 32))
  }

  test("pqAdcTopK ranks by table-lookup distance, never reading vectors past coding") {
    val vecs = Seq(
      (1L, Seq(0.1f, 9.9f)),   // codes (0,0): adc = (0-0.2)^2 + (10-9.8)^2
      (2L, Seq(4.2f, 0.3f)),   // codes (1,1): adc = (4-0.2)^2 + (0-9.8)^2
      (3L, Seq(3.9f, 9.7f))    // codes (1,0): adc = (4-0.2)^2 + (10-9.8)^2
    ).toDF("vec_id", "embedding")
    val codebooks = Seq(
      Seq(Seq(0.0f), Seq(4.0f)),   // subspace 0 centroids
      Seq(Seq(10.0f), Seq(0.0f))) // subspace 1 centroids
    val query = Seq(0.2f, 9.8f)
    val got = Similarity.pqAdcTopK(vecs, "embedding", "vec_id", codebooks, query, 3)
      .as[(Long, Double)].collect().toSeq
    // expected tables in the operator's own fp terms (float operands, double math)
    def d2(c: Float, q: Float) = { val d = c.toDouble - q.toDouble; d * d }
    assert(got.map(_._1) == Seq(1L, 3L, 2L)) // ~0.08 < ~14.48 < ~110.48
    assert(got.head._2 == d2(0f, 0.2f) + d2(10f, 9.8f))
    assert(got(1)._2 == d2(4f, 0.2f) + d2(10f, 9.8f))
    assert(got(2)._2 == d2(4f, 0.2f) + d2(0f, 9.8f))
  }

  test("semDedupSurvivors keeps the earliest member of each near-dup set") {
    val dup = emb.filter($"vec_id" === 3)
      .select(($"vec_id" + 9000).as("vec_id"), $"embedding", $"label")
    val planes = emb.filter($"vec_id".isin(1, 2)).orderBy($"vec_id")
      .select($"embedding").as[Seq[Float]].collect().toSeq
    val kept = Similarity.semDedupSurvivors(emb.union(dup), "embedding", "vec_id",
      planes, threshold = 0.999)
      .select($"vec_id").as[Long].collect().toSet
    assert(kept.contains(3L), "earliest member must survive")
    assert(!kept.contains(9003L), "the planted later copy must be dropped")
    // a 200-member identical flood collapses to exactly its earliest id,
    // even when the bucket cap routes most members through overflow pairs
    val base = emb.filter($"vec_id" === 3).select($"embedding").as[Seq[Float]].head()
    val flood = spark.createDataFrame(
      (0 until 200).map(i => (i.toLong, base))).toDF("vec_id", "embedding")
    val fkept = Similarity.semDedupSurvivors(flood, "embedding", "vec_id",
      planes, threshold = 0.999, maxBucketSize = 20)
      .select($"vec_id").as[Long].collect().toSet
    assert(fkept == Set(0L), s"flood should collapse to {0}, got $fkept")
  }

  test("pcaFit recovers known principal axes; projection and whitening check out") {
    // 2-D data stretched along the (1,1)/sqrt(2) diagonal: variance ~8
    // along it, ~0.5 across it — the principal axis is unambiguous
    val rng = new scala.util.Random(7)
    val pts = (1 to 400).map { i =>
      val t = rng.nextGaussian() * 2.0
      val n = rng.nextGaussian() * 0.5
      (i.toLong, Array(((t + n) / math.sqrt(2)).toFloat,
        ((t - n) / math.sqrt(2)).toFloat))
    }
    val df = pts.toDF("vec_id", "embedding")
    val model = Similarity.pcaFit(df, "embedding", k = 2)
    val c0 = model.components(0)
    assert(math.abs(math.abs(c0(0)) - math.sqrt(0.5)) < 0.05 &&
      math.abs(math.abs(c0(1)) - math.sqrt(0.5)) < 0.05,
      s"principal axis should be the diagonal: ${c0.toSeq}")
    assert(model.eigenvalues(0) > 3.0 && model.eigenvalues(1) < 0.5,
      s"eigenvalues must separate signal from noise: ${model.eigenvalues.toSeq}")
    // components are orthonormal
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    assert(math.abs(dot(c0, c0) - 1) < 1e-9)
    assert(math.abs(dot(c0, model.components(1))) < 1e-9)
    // projection variance matches the eigenvalues; whitening normalizes it
    val proj = Similarity.pcaProject(df, "embedding", model)
      .select($"pca").as[Seq[Double]].collect()
    def variance(xs: Seq[Double]) = {
      val m = xs.sum / xs.size
      xs.map(x => (x - m) * (x - m)).sum / (xs.size - 1)
    }
    val v0 = variance(proj.map(_.head))
    assert(math.abs(v0 - model.eigenvalues(0)) < 0.05 * model.eigenvalues(0),
      s"first-coordinate variance $v0 vs eigenvalue ${model.eigenvalues(0)}")
    val white = Similarity.pcaProject(df, "embedding", model, whiten = true)
      .select($"pca").as[Seq[Double]].collect()
    assert(math.abs(variance(white.map(_.head)) - 1.0) < 0.05)
    assert(math.abs(variance(white.map(_(1))) - 1.0) < 0.05)
    // fixture embeddings: k=4 projection runs end-to-end and is deterministic
    val emb = Tables.embeddings(spark, sfDir)
    val m4 = Similarity.pcaFit(emb, "embedding", k = 4)
    val a = Similarity.pcaProject(emb, "embedding", m4)
      .select($"vec_id", $"pca").collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val b = Similarity.pcaProject(emb, "embedding",
        Similarity.pcaFit(emb, "embedding", k = 4))
      .select($"vec_id", $"pca").collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(a == b, "pcaFit must be deterministic across runs")
  }

  test("planeCountFor scales bucket count with the corpus") {
    assert(Similarity.planeCountFor(10) == 1)         // tiny corpus: 1 plane
    assert(Similarity.planeCountFor(1010) == 4)       // ~16 buckets
    assert(Similarity.planeCountFor(10100) == 8)      // ~256 buckets
    assert(Similarity.planeCountFor(100000000L) == 21)
    assert(Similarity.planeCountFor(1L << 40, maxPlanes = 16) == 16) // capped
    // exact powers stay exact (no fp log2 off-by-one)
    assert(Similarity.planeCountFor(64 * 16) == 4)
    assert(Similarity.planeCountFor(64 * 16 + 1) == 5)
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val media = Multimodal.asMedia(
    Tables.documents(spark, sfDir).limit(20), "doc_id", "text")

  test("decode: deterministic stub metadata, row-count preserved") {
    val out = Multimodal.decode(media)
    assert(out.count() == 20)
    val r = out.filter($"id" === 0).head()
    assert(r.width >= 1 && r.width <= 64 && r.height >= 1 && r.height <= 64)
    assert(r.contentMd5.length == 32)
    assert(r.featNorm > 0)
    // deterministic: same input, same output
    val again = Multimodal.decode(media).filter($"id" === 0).head()
    assert(again == r)
  }

  test("decode preserves partitioning (no shuffle)") {
    val p0 = media.rdd.getNumPartitions
    assert(Multimodal.decode(media).rdd.getNumPartitions == p0)
  }

  test("frame sampling explodes every k-th chunk") {
    val frames = Multimodal.sampleFrames(media, chunkBytes = 64, everyK = 2)
    assert(frames.count() > 0)
    val idx = frames.select($"frame_idx").as[Int].collect()
    assert(idx.forall(_ % 2 == 0))
  }

  // deterministic gradient-with-blobs test image: distinct dHash structure
  private def testImage(w: Int, h: Int, shift: Int = 0): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      // headroom: max 180 + 40 + shift stays under 255, so a brightness
      // shift adds a constant to every pixel and preserves cell ordering
      val v = (x * 180 / w) + shift + (if ((x / 8 + y / 8) % 2 == 0) 40 else 0)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    img
  }

  private def encode(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  test("real PNG decodes via the JDK: true dims/format, luma feature, dHash") {
    val png = encode(testImage(64, 48), "png")
    val m = Multimodal.MediaCodec.probe(png)
    assert(m.width == 64 && m.height == 48 && m.format == "png")
    val df = Multimodal.decode(Multimodal.asMedia(
      Seq((1L, png)).toDF("doc_id", "content"), "doc_id", "content"))
    val r = df.head()
    assert(r.decoded && r.width == 64 && r.height == 48 && r.format == "png")
    assert(r.featNorm > 0 && r.featNorm < 255) // mean luminance, not byte mean
    assert(r.dhash != 0L)
    // undecodable bytes keep the deterministic fallback, marked as such
    val junk = Multimodal.decode(Multimodal.asMedia(
      Seq((2L, "not an image at all".getBytes("UTF-8")))
        .toDF("doc_id", "content"), "doc_id", "content")).head()
    assert(!junk.decoded && junk.dhash == 0L)
  }

  test("dHash is encoding-invariant and locality-sensitive") {
    val img = testImage(96, 64)
    val hPng = Multimodal.MediaCodec.dHash64(
      Multimodal.MediaCodec.decodeImage(encode(img, "png")).get)
    val hBmp = Multimodal.MediaCodec.dHash64(
      Multimodal.MediaCodec.decodeImage(encode(img, "bmp")).get)
    assert(hPng == hBmp, "same pixels, different hash across PNG/BMP")
    // a small brightness shift preserves the structure (hamming ~ 0)
    val near = Multimodal.MediaCodec.dHash64(testImage(96, 64, shift = 6))
    assert(java.lang.Long.bitCount(hPng ^ near) <= 3)
    // a different structure is far
    val far = Multimodal.MediaCodec.dHash64 {
      val i2 = new java.awt.image.BufferedImage(96, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 96) {
        val v = (y * 255 / 64 + (if (x % 16 < 8) 120 else 0)) % 256
        i2.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      i2
    }
    assert(java.lang.Long.bitCount(hPng ^ far) > 10)
  }

  test("image near-dup pairs via banded dHash LSH") {
    val rows = Seq(
      (1L, encode(testImage(64, 48), "png")),
      (2L, encode(testImage(64, 48, shift = 6), "png")), // near-dup of 1
      (3L, encode(testImage(64, 48, shift = 5), "bmp")), // near-dup of 1 & 2
      (4L, {                                              // structurally different
        val i2 = testImage(64, 48)
        for (y <- 0 until 48; x <- 0 until 64)
          if (x % 12 < 6) i2.setRGB(x, y, 0xffffff - i2.getRGB(x, y))
        encode(i2, "png")
      }),
      (5L, "definitely not an image".getBytes("UTF-8"))) // excluded (undecoded)
      .toDF("doc_id", "content")
    val decoded = Multimodal.decode(
      Multimodal.asMedia(rows, "doc_id", "content"))
    val pairs = Multimodal.imageNearDups(decoded, maxHamming = 3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)),
      s"missing near-dup pairs: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), s"false positive with 4: $pairs")
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L), "undecodable row leaked into LSH")
  }

  test("q62 golden file: the image near-dup result is pinned row for row") {
    // q62 has no DuckDB oracle (the driver records rows-only), so decoder
    // or banding regressions could hide behind rows>0. Pin the full result
    // against a committed golden. Regenerate after an INTENDED change with:
    //   sbt 'runMain graft.cli.Harness dump /root/testdata/sf0.001 \
    //     q62_image_near_dups src/test/resources/golden/q62_image_near_dups_sf0001.csv'
    val got = SparkEntry.queries("q62_image_near_dups")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number](2).longValue())) // hamming is bit_count's int
    val golden = {
      val src = scala.io.Source.fromInputStream(
        getClass.getResourceAsStream("/golden/q62_image_near_dups_sf0001.csv"))
      try src.getLines().drop(1).map { l =>
        val Array(a, b, h) = l.split(",")
        (a.toLong, b.toLong, h.toLong)
      }.toVector
      finally src.close()
    }
    assert(got.length == golden.length,
      s"row count ${got.length} != golden ${golden.length}")
    assert(got.toSeq == golden,
      "q62 rows diverge from the committed golden (first diff: " +
        got.toSeq.zip(golden).find { case (x, y) => x != y }.toString + ")")
  }

  test("box resize preserves mean luminance and dHash structure") {
    val img = testImage(96, 64)
    val small = Multimodal.MediaCodec.resizeBox(img, 12, 8)
    assert(small.getWidth == 12 && small.getHeight == 8)
    val lumaBig = Multimodal.MediaCodec.meanLuminance(img)
    val lumaSmall = Multimodal.MediaCodec.meanLuminance(small)
    assert(math.abs(lumaBig - lumaSmall) < 3.0,
      s"box average drifted the mean: $lumaBig vs $lumaSmall")
    // PNG re-encode is lossless: decode(encodePng(x)) has identical pixels
    val rt = Multimodal.MediaCodec.decodeImage(
      Multimodal.MediaCodec.encodePng(small)).get
    for (y <- 0 until 8; x <- 0 until 12)
      assert((rt.getRGB(x, y) & 0xffffff) == (small.getRGB(x, y) & 0xffffff))
    // resize keeps the perceptual fingerprint close (structure survives)
    val hFull = Multimodal.MediaCodec.dHash64(img)
    val hHalf = Multimodal.MediaCodec.dHash64(
      Multimodal.MediaCodec.resizeBox(img, 48, 32))
    // the 8-px checkerboard aliases slightly against the 9x8 dHash grid at
    // half size; ~8 of 64 bits move, structurally "near" (random is ~32)
    assert(java.lang.Long.bitCount(hFull ^ hHalf) <= 12,
      "downscale destroyed the dHash structure")
  }

  test("WAV codec: PCM16 round-trip, chunk walking, directed errors") {
    import graft.operators.Wav
    val sq = Array.tabulate[Short](800 * 2) { k =>
      val frame = k / 2
      if ((frame / 4) % 2 == 0) 2000 else -2000
    }
    val audio = Wav.Audio(16000, 2, sq)
    // canonical layout and LIST-chunk layout both decode to identical PCM
    for (list <- Seq(false, true)) {
      val got = Wav.decode(Wav.encode(audio, withListChunk = list))
      assert(got.sampleRate == 16000 && got.channels == 2 && got.nFrames == 800)
      assert(got.samples.sameElements(sq), s"PCM mismatch (list=$list)")
      assert(got.rms == 2000.0)
      assert(got.zeroCrossings == (800 - 1) / 4)
      assert(math.abs(got.durationMs - 50.0) < 1e-9)
    }
    // PCM8 widens to the signed 16-bit scale
    val pcm8 = {
      val a = Wav.encode(Wav.Audio(8000, 1, Array[Short](0)), withListChunk = false)
      // patch bits-per-sample to 8 and rewrite data by hand: simpler to build
      // the container directly
      val fmt = new java.io.ByteArrayOutputStream()
      def u16(v: Int) = { fmt.write(v & 0xff); fmt.write((v >> 8) & 0xff) }
      def u32(v: Int) = { u16(v & 0xffff); u16((v >> 16) & 0xffff) }
      u16(1); u16(1); u32(8000); u32(8000); u16(1); u16(8)
      val out = new java.io.ByteArrayOutputStream()
      out.write("RIFF".getBytes("US-ASCII"))
      val body = new java.io.ByteArrayOutputStream()
      body.write("WAVE".getBytes("US-ASCII"))
      body.write("fmt ".getBytes("US-ASCII")); body.write(Array[Byte](16, 0, 0, 0))
      fmt.writeTo(body)
      body.write("data".getBytes("US-ASCII")); body.write(Array[Byte](3, 0, 0, 0))
      body.write(Array[Byte](128.toByte, 255.toByte, 0)) // mid, +max, -max
      body.write(0) // pad byte for the odd data size
      out.write(Array[Byte]((body.size & 0xff).toByte, 0, 0, 0))
      body.writeTo(out)
      a.take(0) ++ out.toByteArray
    }
    val got8 = Wav.decode(pcm8)
    assert(got8.samples.toSeq == Seq[Short](0, (127 << 8).toShort, (-128 << 8).toShort))
    // directed errors name the problem
    val junk = intercept[Wav.UnsupportedWav](Wav.decode("nope".getBytes))
    assert(junk.getMessage.contains("RIFF"))
    // hand-build a RIFF container with a given tag/bits and raw payload
    def riff(tag: Int, bits: Int, payload: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      def w16(v: Int): Unit = { o.write(v & 0xff); o.write((v >> 8) & 0xff) }
      def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >> 16) & 0xffff) }
      o.write("RIFF".getBytes); w32(36 + payload.length); o.write("WAVE".getBytes)
      o.write("fmt ".getBytes); w32(16)
      w16(tag); w16(1); w32(8000)
      w32(8000 * bits / 8); w16(bits / 8); w16(bits)
      o.write("data".getBytes); w32(payload.length); o.write(payload)
      o.toByteArray
    }
    // IEEE float32 (tag 3) scales [-1, 1] to the 16-bit range, clamping
    val f32 = Seq(0.0f, 0.5f, -1.0f, 1.5f).flatMap { f =>
      val bits = java.lang.Float.floatToIntBits(f)
      Seq(bits, bits >> 8, bits >> 16, bits >> 24).map(b => (b & 0xff).toByte)
    }.toArray
    val gotF = Wav.decode(riff(3, 32, f32))
    assert(gotF.samples.toSeq ==
      Seq[Short](0, 16384, -32767, 32767)) // rint(0.5*32767)=16384; clamp 1.5
    // PCM24 keeps the top 16 bits
    val p24 = Seq(0x000000, 0x7fff00, 0x800000, 0x400080).flatMap(v =>
      Seq(v, v >> 8, v >> 16).map(b => (b & 0xff).toByte)).toArray
    val got24 = Wav.decode(riff(1, 24, p24))
    assert(got24.samples.toSeq == Seq[Short](0, 0x7fff, (0x8000 - 0x10000).toShort, 0x4000))
    // float at a non-32 width and ADPCM still raise directed errors
    val f16 = intercept[Wav.UnsupportedWav](Wav.decode(riff(3, 16, new Array[Byte](4))))
    assert(f16.getMessage.contains("32 only"))
    val adpcm = intercept[Wav.UnsupportedWav](Wav.decode(riff(2, 4, new Array[Byte](4))))
    assert(adpcm.getMessage.contains("format tag 2") &&
      adpcm.getMessage.contains("pcm_s16le"))
    // G.711 decodes against the published constants: A-law 0x55/0xD5 are
    // -8/+8 and 0xAA is the +32256 maximum; mu-law 0xFF/0x7F are the two
    // zeros and 0x80 is the +32124 maximum
    val gotA = Wav.decode(riff(6, 8,
      Array[Byte](0x55, 0xD5.toByte, 0xAA.toByte, 0x2A)))
    assert(gotA.samples.toSeq == Seq[Short](-8, 8, 32256, -32256))
    val gotU = Wav.decode(riff(7, 8,
      Array[Byte](0xFF.toByte, 0x7F, 0x80.toByte, 0x00)))
    assert(gotU.samples.toSeq == Seq[Short](0, 0, 32124, -32124))
  }

  test("q66 decoded audio features equal the closed-form oracle values") {
    val rows = Queries.byName("q66_audio_meta")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      val rate = 8000L * (if (id % 3 == 0) 1 else if (id % 3 == 1) 2 else 4)
      val nFrames = 800 + id % 100
      assert(r.getLong(1) == rate, s"doc $id sample_rate")
      assert(r.getLong(2) == 1 + id % 2, s"doc $id channels")
      assert(r.getLong(3) == nFrames, s"doc $id n_frames")
      val dur3 = BigDecimal(nFrames * 1000.0 / rate)
        .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(4) == dur3, s"doc $id duration")
      assert(r.getDouble(5) == (1000 + (id % 50) * 100).toDouble, s"doc $id rms")
      assert(r.getLong(6) == (nFrames - 1) / 4, s"doc $id zero_crossings")
    }
  }

  test("decodeAudio: dataset plumbing, fallback rows, no shuffle") {
    import graft.operators.Wav
    val wav = Wav.encode(Wav.Audio(8000, 1,
      Array.tabulate[Short](400)(i => if ((i / 4) % 2 == 0) 500 else -500)))
    val rows = Seq((1L, wav), (2L, "not audio".getBytes("UTF-8")))
      .toDF("doc_id", "content")
    val media = Multimodal.asMedia(rows, "doc_id", "content")
    val out = Multimodal.decodeAudio(media)
    assert(out.rdd.getNumPartitions == media.rdd.getNumPartitions)
    val byId = out.collect().map(r => r.id -> r).toMap
    assert(byId(1L).decoded && byId(1L).sampleRate == 8000 &&
      byId(1L).nFrames == 400 && byId(1L).rms == 500.0)
    assert(!byId(2L).decoded && byId(2L).sampleRate == 0)
  }
}

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  import graft.streaming.FileEvents

  test("stateless pipeline ops run unchanged on a stream (stream == batch)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.{TextFunctions => TF}
    import graft.operators.Sampling
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = (1L to 60L).map(i =>
      (i, s"user$i@example.com writes filler text number $i"))
    def transform(df: org.apache.spark.sql.DataFrame) =
      Sampling.mixtureSample(df.withColumn("r", lit(0.5)), col("doc_id"), col("r"))
        .select($"doc_id", md5(TF.redactPii($"text")).as("red_md5"),
          TF.tokenCount($"text").as("n_toks"))
    val in = MemoryStream[(Long, String)]
    in.addData(rows)
    val streaming = transform(in.toDF().toDF("doc_id", "text"))
    assert(streaming.isStreaming, "map-side ops must not force a batch plan")
    val q = streaming.writeStream.format("memory")
      .queryName("stateless_ops").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stateless_ops")
      .as[(Long, String, Int)].collect().toSet
    val batch = transform(rows.toDF("doc_id", "text"))
      .as[(Long, String, Int)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty && streamed.size < rows.size, "mixture must subsample")
  }

  test("streaming de-accumulation differences across micro-batches (stream == batch)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Deaccumulate
    import graft.operators.Mover
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // two cells; cell 1 resets its accumulation mid-stream (8.0 -> 2.0),
    // and the reset lands in the SECOND batch so state must carry over
    val batch1 = Seq(Deaccumulate.Obs(1L, 1L, 5.0), Deaccumulate.Obs(1L, 2L, 8.0),
      Deaccumulate.Obs(2L, 1L, 3.0))
    val batch2 = Seq(Deaccumulate.Obs(1L, 3L, 2.0), Deaccumulate.Obs(1L, 4L, 6.0),
      Deaccumulate.Obs(2L, 2L, 4.5))
    val in = MemoryStream[Deaccumulate.Obs]
    val q = Deaccumulate.assignStreaming(in.toDS()).writeStream
      .format("memory").queryName("deaccum_stream").outputMode("append").start()
    try {
      in.addData(batch1); q.processAllAvailable()
      in.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("deaccum_stream")
      .select($"key", $"ts_us", $"step_value")
      .as[(Long, Long, Double)].collect().toSet
    val batch = Mover.deaccumulate(
        (batch1 ++ batch2).toDF(), Seq("key"), Seq("ts_us"), "value")
      .select($"key", $"ts_us", $"step_value")
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch)
    assert(streamed.contains((1L, 3L, 2.0)), "cross-batch reset yields the raw value")
    assert(streamed.contains((1L, 4L, 4.0)), "post-reset difference uses carried state")
    assert(streamed.contains((2L, 2L, 1.5)), "cross-batch difference uses carried state")
  }

  test("streaming exact dedup drops cross-batch duplicates with bounded state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamDedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(m: Int) = java.sql.Timestamp.valueOf(s"2026-04-01 10:0$m:00")
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val deduped = StreamDedup.dedupExact(
      in.toDF().toDF("text", "ts"), "text", "ts", "10 minutes")
    assert(deduped.isStreaming)
    val q = deduped.select($"content_hash").writeStream
      .format("memory").queryName("stream_dedup_out").outputMode("append").start()
    try {
      in.addData(("alpha doc", t(0)), ("beta doc", t(1)))
      q.processAllAvailable()
      // duplicate arrives in a LATER batch, inside the watermark horizon
      in.addData(("alpha doc", t(2)), ("gamma doc", t(3)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("stream_dedup_out").collect()
    assert(out.length == 3, s"expected 3 unique docs, got ${out.length}")
    // batch path agrees on bounded input
    val batch = Seq(("alpha doc", t(0)), ("beta doc", t(1)),
      ("alpha doc", t(2)), ("gamma doc", t(3))).toDF("text", "ts")
    val b = StreamDedup.dedupExact(batch, "text", "ts", "10 minutes")
    assert(b.select($"content_hash").distinct().count() == 3)
    assert(b.count() == 3)
  }

  test("streaming near-dup dedup == batch on planted near-dups, bounded state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamDedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2026-04-01 10:$m%02d:00")
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, base, t(0)),
      (2L, base.replace(" mu", " nu"), t(1)),           // near-dup of 1
      (3L, "entirely different prose describing spark catalyst rules and codegen stages here", t(2)),
      (4L, base.replace("delta", "delta prime"), t(3)), // near-dup of 1, later batch
      (5L, "yet another unrelated document covering zarr chunk grids and consolidated metadata", t(4)))
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val survivors = StreamDedup.dedupNearMinhash(
      in.toDF().toDF("doc_id", "text", "ts"), "doc_id", "text", "ts", "10 minutes")
    assert(survivors.isStreaming)
    val q = survivors.writeStream
      .format("memory").queryName("near_dedup_bands").outputMode("append").start()
    try {
      in.addData(docs.take(3))
      q.processAllAvailable()
      in.addData(docs.drop(3))
      q.processAllAvailable()
    } finally q.stop()
    val streamKept = StreamDedup.novelDocs(
      spark.table("near_dedup_bands"), "doc_id", bands = 4)
      .as[Long].collect().toSet
    // batch equivalent on the same bounded corpus
    val batchKept = StreamDedup.novelDocs(
      StreamDedup.dedupNearMinhash(docs.toDF("doc_id", "text", "ts"),
        "doc_id", "text", "ts", "10 minutes"), "doc_id", bands = 4)
      .as[Long].collect().toSet
    assert(streamKept == batchKept, s"stream $streamKept != batch $batchKept")
    assert(!streamKept.contains(2L) && !streamKept.contains(4L),
      s"planted near-dups survived: $streamKept")
    assert(streamKept.contains(1L) && streamKept.contains(3L) && streamKept.contains(5L))
  }

  test("streaming file events drive GRIB extraction into an idempotent sink (ST8 e2e)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.grib.{GribReader, Grib1Writer => GW}
    val dir = java.nio.file.Files.createTempDirectory("streamgrib").toString
    val t0 = java.time.LocalDateTime.of(2026, 4, 1, 0, 0)
    def mkGrib(name: String, base: Double): String = {
      val p = s"$dir/$name"
      GW.write(p, Seq(GW.FieldSpec(167, 105, 2, t0,
        (0 until 12).map(base + _), 4, 3, 50.0, 0.0, 48.0, 3.0)))
      p
    }
    val f1 = mkGrib("a.grib", 270.0)
    val f2 = mkGrib("b.grib", 280.0)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = MemoryStream[String]
    val sink = s"$dir/sink"
    val q = events.toDF().withColumnRenamed("value", "uri").writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = batch.sparkSession
        batch.collect().map(_.getString(0)).distinct.foreach { uri =>
          val rows = Mover.extractRows(GribReader.readMerged(s, uri), uri,
            Mover.Options(importTime = Some("2026-04-01 12:00:00"),
              latRes = Some(0.5), lonRes = Some(0.5)))
          FileEvents.idempotentAppend(s, rows, "data_uri", sink)
        }
      }.start()
    try {
      events.addData(f1)
      q.processAllAvailable()
      // duplicate arrival of f1 plus the new f2: only f2's rows append
      events.addData(f1, f2)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(sink)
    assert(out.count() == 24) // 12 per file, no duplicates
    assert(out.select("data_uri").distinct().count() == 2)
    assert(out.columns.contains("heightAboveGround_2_00_instant_2t"))
  }

  test("parsePaths: JSON -> uri, pattern filter, malformed dropped") {
    val msgs = Seq(
      """{"bucket": "b1", "name": "data/x.grib"}""",
      """{"bucket": "b1", "name": "data/y.nc"}""",
      """not json at all""").toDF("body")
    val got = FileEvents.parsePaths(msgs, "body", "gs://b1/data/*.grib")
      .select("uri").as[String].collect().toSeq
    assert(got == Seq("gs://b1/data/x.grib"))
  }

  test("streaming windowed counts equal the batch computation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val events = Tables.events(spark, sfDir)
      .select($"ts", $"event_id").orderBy($"event_id").limit(200)
      .as[(java.sql.Timestamp, Long)].collect()
    val stream = MemoryStream[(java.sql.Timestamp, Long)]
    stream.addData(events.toIndexedSeq)
    val q = FileEvents.windowedCounts(stream.toDF().toDF("ts", "event_id"), "ts")
      .writeStream.format("memory").queryName("win_counts").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("win_counts")
      .select($"win_start", $"n").as[(java.sql.Timestamp, Long)].collect().toMap
    val batch = Tables.events(spark, sfDir)
      .select($"ts", $"event_id").orderBy($"event_id").limit(200)
      .groupBy(window($"ts", "1 minute")).agg(count(lit(1)).as("n"))
      .select($"window.start", $"n").as[(java.sql.Timestamp, Long)].collect().toMap
    assert(streamed == batch)
  }

  test("startIdempotentIngest: stream -> foreachBatch sink dedups across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val tmpRoot = java.nio.file.Files.createTempDirectory("stream_ingest").toString
    val stream = MemoryStream[(Long, String)]
    // data must be present BEFORE the query starts: AvailableNow snapshots
    // the available offsets at start, so late addData may miss the run
    stream.addData(Seq((1L, "a"), (2L, "b")))
    val q = FileEvents.startIdempotentIngest(
      stream.toDF().toDF("event_id", "payload"), "event_id",
      s"$tmpRoot/sink", s"$tmpRoot/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.processAllAvailable(); q.stop()
    // second run re-delivers an overlapping batch (at-least-once upstream)
    val stream2 = MemoryStream[(Long, String)]
    stream2.addData(Seq((2L, "b"), (3L, "c")))
    val q2 = FileEvents.startIdempotentIngest(
      stream2.toDF().toDF("event_id", "payload"), "event_id",
      s"$tmpRoot/sink", s"$tmpRoot/ckpt2",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q2.processAllAvailable(); q2.stop()
    import spark.implicits._
    val ids = spark.read.parquet(s"$tmpRoot/sink").select($"event_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L)) // no duplicate 2
  }

  test("idempotentAppend: re-ingesting a batch adds nothing") {
    val tmp = java.nio.file.Files.createTempDirectory("ingest").toString + "/sink"
    val batch = Tables.events(spark, sfDir).select($"event_id", $"event_type").limit(100)
    FileEvents.idempotentAppend(spark, batch, "event_id", tmp)
    assert(spark.read.parquet(tmp).count() == 100)
    FileEvents.idempotentAppend(spark, batch, "event_id", tmp)
    assert(spark.read.parquet(tmp).count() == 100)
    val more = Tables.events(spark, sfDir).select($"event_id", $"event_type").limit(150)
    FileEvents.idempotentAppend(spark, more, "event_id", tmp)
    assert(spark.read.parquet(tmp).count() == 150)
  }
}

class SessionizeSpec extends SparkSpec {
  import spark.implicits._
  import graft.streaming.Sessionize

  test("streaming flatMapGroupsWithState matches the batch window mirror") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", expr("ts_ns div 1000").as("ts_us"), $"value")
      .as[Sessionize.Event].collect().sortBy(_.ts_us)
    val (first, second) = ev.splitAt(ev.length / 2)

    val stream = MemoryStream[Sessionize.Event]
    val q = Sessionize.assignStreaming(stream.toDS(), gapSeconds = 3600)
      .writeStream.format("memory").queryName("sessionized")
      .outputMode("append").start()
    try {
      stream.addData(first.toIndexedSeq)
      q.processAllAvailable()
      stream.addData(second.toIndexedSeq) // state must carry across batches
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("sessionized")
      .groupBy($"user_id", $"session_idx")
      .agg(count(lit(1)).as("n_events"), min($"ts_us").as("start_us"),
        max($"ts_us").as("end_us"), round(sum($"value"), 6).as("sum_value"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    val batch = Sessionize.summarizeBatch(
        Tables.events(spark, sfDir)
          .select($"user_id", expr("ts_ns div 1000").as("ts_us"), $"value"),
        "user_id", "ts_us", "value", gapSeconds = 3600)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    assert(streamed.size == batch.size)
    assert(streamed == batch)
  }
}

class QueriesSpec extends SparkSpec {
  test("every query runs on sf0.001 and returns rows") {
    val failures = Queries.everything.flatMap { q =>
      try {
        val n = q.run(spark, sfDir).count()
        if (n > 0) None else Some(s"${q.name}: 0 rows")
      } catch { case e: Throwable => Some(s"${q.name}: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("oracle keys are a subset of query names and non-empty") {
    assert(Queries.oracles.keySet.subsetOf(Queries.byName.keySet))
    assert(Queries.oracles.nonEmpty)
    assert(Queries.oracles.values.forall { o =>
      val t = o.trim.toUpperCase
      t.startsWith("SELECT") || t.startsWith("WITH")
    })
  }

  test("entry returns rows on the smoke scale factor") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("plan lint: no CartesianProduct anywhere in the inventory") {
    val offenders = Queries.everything.flatMap { q =>
      val plan = q.run(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      if (plan.contains("CartesianProduct")) Some(q.name) else None
    }
    assert(offenders.isEmpty, s"CartesianProduct in: $offenders")
  }

  test("plan lint: no unpartitioned (single-task) Window anywhere in the inventory") {
    // `f() OVER ()` / `OVER (ORDER BY ...)` with no PARTITION BY moves the
    // whole input into one task — the classic 100 TB scale-killer. Every
    // inventory plan must keep its windows partitioned.
    val offenders = Queries.everything.flatMap { q =>
      val windows = q.run(spark, sfDir).queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      if (windows.nonEmpty) Some(q.name) else None
    }
    assert(offenders.isEmpty, s"unpartitioned Window in: $offenders")
  }

  test("plan lint: dsir and climatology join their stats tables broadcast") {
    // q83's 64-row log-ratio table and q85's keys-sized climatology must
    // broadcast — a shuffled join there would re-exchange the whole corpus
    for (q <- Seq("q83_dsir_weights", "q85_climatology")) {
      val plan = Queries.byName(q)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(plan.contains("BroadcastHashJoin"), s"$q: stats join must broadcast")
    }
  }

  test("plan lint: regrid joins stay equi-joins (hash/sort-merge, never NL)") {
    // q49/q51 join on integer cell indices / snapped anchors — if a key
    // slips to an expression mismatch they'd degrade to a nested-loop join
    for (q <- Seq("q49_regrid_nearest", "q51_regrid_bilinear")) {
      val plan = Queries.byName(q)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q plans a NL join")
      assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
        s"$q has no equi-join operator")
    }
  }

  test("plan lint: near-dup in-cap pairing streams through a bucket self-join") {
    // Both LSH near-dup operators (MinHash q31, embedding-cosine q46) once
    // built their in-cap pairs with collect_list + flatten — materializing
    // C(cap, 2) pair structs inside ONE task's buffer, the failure class
    // the r9 64x stress caught (executor OOM on skewed buckets). Since r9
    // both pair through a bucket-keyed SELF-JOIN with id_a < id_b, whose
    // per-key group buffers spill and whose pair stream is consumed
    // incrementally. The lint pins that shape: an equi-join (never a
    // nested-loop), and NO CollectList anywhere in the un-cached pair
    // pipeline — a reintroduced collect_list pair stage fails here before
    // it fails a scale stress. (Per-doc shingle sets live inside persisted
    // frames and are bounded by document length, not bucket size.)
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectList}
    for (q <- Seq("q31_minhash_near_dups", "q46_embedding_near_dups")) {
      val qe = Queries.byName(q)(spark, sfDir).queryExecution
      val planStr = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(!planStr.contains("BroadcastNestedLoopJoin"), s"$q plans a NL join")
      assert(planStr.contains("SortMergeJoin") || planStr.contains("HashJoin"),
        s"$q: expected the bucket-keyed self-join for in-cap pairs")
      val hasCollect = qe.optimizedPlan.exists(_.expressions.exists(_.exists {
        case ae: AggregateExpression => ae.aggregateFunction.isInstanceOf[CollectList]
        case _ => false
      }))
      assert(!hasCollect, s"$q: a collect_list pair stage reappeared")
    }
  }

  test("plan lint: filters and pruning reach the parquet scan") {
    val plan = Queries.byName("q03_where_coords")(spark, sfDir).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(!plan.contains("l_orderkey:bigint,l_partkey")) // pruned read schema
  }

  test("sentence segmentation: terminators, quotes, runs, blanks") {
    import graft.functions.TextFunctions
    import spark.implicits._
    val df = Seq(
      (1L, "One two. Three! Four? Five"),
      (2L, "He said \"stop.\" Then left... Done"),
      (3L, "   "),
      (4L, null: String)).toDF("doc_id", "text")
    val out = TextFunctions.splitSentencesFlat(df, "doc_id", "text")
      .orderBy($"id", $"sentence_idx").collect()
    val d1 = out.filter(_.getLong(0) == 1L).map(_.getString(2)).toSeq
    assert(d1 == Seq("One two.", "Three!", "Four?", "Five"))
    val d2 = out.filter(_.getLong(0) == 2L).map(_.getString(2)).toSeq
    // the closing quote stays with its sentence; an ellipsis run is one end
    assert(d2 == Seq("He said \"stop.\"", "Then left...", "Done"))
    assert(!out.exists(r => r.getLong(0) == 3L || r.getLong(0) == 4L))
    // straight apostrophes and closing brackets close sentences too
    val more = TextFunctions.splitSentencesFlat(
      Seq((5L, "He said 'stop.' Then [left.] Done")).toDF("doc_id", "text"),
      "doc_id", "text").orderBy($"sentence_idx").collect()
    assert(more.map(_.getString(2)).toSeq ==
      Seq("He said 'stop.'", "Then [left.]", "Done"))
  }

  test("linear text classifier: hashed-weight mean, bias, blank docs") {
    import graft.functions.TextFunctions
    import graft.operators.Sampling
    import spark.implicits._
    val weights = (0 until 8).map(_ * 0.25 - 1.0)
    val df = Seq((1L, "Alpha beta"), (2L, ""), (3L, "x")).toDF("doc_id", "text")
    val got = df.select($"doc_id",
      TextFunctions.linearTextScore($"text", weights, bias = 0.5).as("s"))
      .orderBy($"doc_id").collect()
    // recompute by hand through the same digest (lowercased tokens)
    def b(tok: String): Int = spark.range(1)
      .select((Sampling.md5Bucket16(lit(tok)) % 8).cast("int"))
      .head().getInt(0)
    val expect1 = 0.5 + (weights(b("alpha")) + weights(b("beta"))) / 2
    assert(math.abs(got(0).getDouble(1) - expect1) < 1e-12)
    assert(got(1).getDouble(1) == 0.5) // blank -> bias exactly
    val expect3 = 0.5 + weights(b("x"))
    assert(math.abs(got(2).getDouble(1) - expect3) < 1e-12)
    // the logistic link is monotone in the score
    val p = df.select(TextFunctions.linearTextProb($"text", weights, 0.5))
      .collect().map(_.getDouble(0))
    assert(p.forall(x => x > 0 && x < 1))
  }

  test("mojibake repair: classic, stacked, CP1252 slots, conservative no-ops") {
    import graft.functions.TextFunctions
    def mangle(s: String): String = new String(
      s.getBytes("UTF-8"), "windows-1252")
    // the classic single round: é, ü, €, a CJK char
    assert(TextFunctions.fixMojibakeString(mangle("café")) == "café")
    assert(TextFunctions.fixMojibakeString(mangle("über 5€")) == "über 5€")
    assert(TextFunctions.fixMojibakeString(mangle("中文 ok")) == "中文 ok")
    // STACKED: mangled twice repairs in two rounds
    assert(TextFunctions.fixMojibakeString(mangle(mangle("café"))) == "café")
    // conservative no-ops: plain ASCII, genuine accented text, genuine
    // CJK, and strings whose high chars do not form valid UTF-8
    assert(TextFunctions.fixMojibakeString("plain ascii") == "plain ascii")
    assert(TextFunctions.fixMojibakeString("café único") == "café único")
    assert(TextFunctions.fixMojibakeString("中文") == "中文")
    assert(TextFunctions.fixMojibakeString("Âx") == "Âx") // C2 'x': invalid
    // the DataFrame surface flags what changed
    import spark.implicits._
    val df = Seq((1L, mangle("naïve")), (2L, "clean"), (3L, null: String))
      .toDF("doc_id", "text")
    val out = TextFunctions.fixMojibakeFlat(df, "doc_id", "text")
      .orderBy($"id").collect()
    assert(out(0).getString(1) == "naïve" && out(0).getBoolean(2))
    assert(out(1).getString(1) == "clean" && !out(1).getBoolean(2))
    assert(out(2).isNullAt(1) && !out(2).getBoolean(2))
  }
}
