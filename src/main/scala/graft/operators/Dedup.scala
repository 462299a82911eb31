package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.functions._

/** Document deduplication for the training-data pipeline surface: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard — all as declarative column
  * algebra so every stage is distributed and shuffle-bounded.
  *
  * Scale design (the part that matters at 100 TB):
  *  - signatures/fingerprints are per-row expressions (no shuffle);
  *  - candidate generation is a self-join on (band, bucket) keys — the join
  *    key cardinality grows with corpus size, so the shuffle is spread, and
  *    only near-duplicates collide (vs the quadratic all-pairs join);
  *  - the exact-Jaccard verify runs only on LSH candidates.
  */
object Dedup {

  /** Exact dedup by content hash: one hash-partitioned aggregation. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Whitespace tokens, lowercased. */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** `n`-word shingles of a token array. Docs with fewer than `n` tokens
    * yield an empty array (`sequence(1, 0)` would count DOWN in Spark and
    * produce out-of-range slice indices, so the short case is guarded).
    * Measured note: slice + concat_ws beats an unrolled element_at chain
    * ~2.4x in the interpreted HOF path — don't "optimize" it back. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  /** Compiled (plain-JVM) twin of `shingles(tokens(text), n)` for the hot
    * flatMap paths: SQL `trim` semantics (strips SPACES only, not Java's
    * `<= ' '` rule), lowercase via `Locale.ROOT` (Spark's `lower` is
    * locale-independent; the default-locale form would diverge under e.g. a
    * Turkish JVM locale), `\s+` split with limit -1 (Spark's `split` keeps
    * a trailing empty token for text ending in non-space whitespace — a
    * newline-terminated doc — and `Pattern.split`'s default limit 0 would
    * drop it), n-token windows joined by single spaces. Bit-identical
    * output to the Column form — keep the two in lockstep (spec-asserted
    * on trailing-newline input). */
  private[graft] def shingleStringsOf(text: String, n: Int): Array[String] = {
    if (text == null) return Array.empty
    var from = 0
    var until = text.length
    while (from < until && text.charAt(from) == ' ') from += 1
    while (until > from && text.charAt(until - 1) == ' ') until -= 1
    val toks = Whitespace.split(
      text.substring(from, until).toLowerCase(java.util.Locale.ROOT), -1)
    if (toks.length < n) return Array.empty
    Array.tabulate(toks.length - n + 1) { i =>
      val sb = new java.lang.StringBuilder()
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks(i + k))
        k += 1
      }
      sb.toString
    }
  }

  private val HexDigits = "0123456789abcdef".toCharArray
  private val Md5Digest = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** Seeded md5 hex — the JVM twin of `md5(concat(lit(seed), lit(":"), s))`,
    * bit-identical to DuckDB's `md5('seed:' || s)` (the cross-engine hash). */
  val md5SeededHex: (Int, String) => String = (seed, s) => {
    val md = Md5Digest.get()
    md.reset()
    val bytes = md.digest((seed.toString + ":" + s).getBytes("UTF-8"))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexDigits((bytes(i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Seeded xxhash64 as a decimal string — the JVM twin of
    * `xxhash64(lit(seed), s).cast("string")` (the fast single-engine path):
    * same arg-chaining as the SQL function (int seed hashed at 42, string
    * hashed at the result). */
  val xxSeededStr: (Int, String) => String = (seed, s) => {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.Platform
    val bytes = s.getBytes("UTF-8")
    XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length,
      XXH64.hashInt(seed, 42L)).toString
  }

  private def md5Hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexDigits((bytes(i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** All-seeds batch form of a seeded hash: `apply(s)(k) == hashFn(k, s)`
    * bit-for-bit, but the shingle's UTF-8 bytes are encoded ONCE and shared
    * across every seed (the digest prefix `"k:"` is pre-encoded per seed).
    * In the signature loop the hash runs `numHashes` times per distinct
    * shingle, so the per-call String concat + re-encode of the old
    * one-seed-at-a-time form was pure overhead. Unknown hash functions
    * fall back to per-seed calls — behavior identical by construction. */
  private[graft] def seededBatch(hashFn: (Int, String) => String,
      numHashes: Int): String => Array[String] = {
    val prefixes = Array.tabulate(numHashes)(k => s"$k:".getBytes("UTF-8"))
    if (hashFn eq md5SeededHex) { s =>
      val sb = s.getBytes("UTF-8")
      val md = Md5Digest.get()
      Array.tabulate(numHashes) { k =>
        md.reset()
        md.update(prefixes(k))
        md.update(sb)
        md5Hex(md.digest())
      }
    } else if (hashFn eq xxSeededStr) { s =>
      import org.apache.spark.sql.catalyst.expressions.XXH64
      import org.apache.spark.unsafe.Platform
      val sb = s.getBytes("UTF-8")
      Array.tabulate(numHashes)(k =>
        XXH64.hashUnsafeBytes(sb, Platform.BYTE_ARRAY_OFFSET, sb.length,
          XXH64.hashInt(k, 42L)).toString)
    } else { s => Array.tabulate(numHashes)(k => hashFn(k, s)) }
  }

  /** MinHash signature: `numHashes` permutations approximated by seeded
    * xxhash64; each signature slot is the min hash over the shingle set.
    * Pure per-row expression — scales embarrassingly. */
  def minhashSignature(text: Column, numHashes: Int, shingleSize: Int = 3): Column = {
    val sh = shingles(tokens(text), shingleSize)
    array((0 until numHashes).map { seed =>
      array_min(transform(sh, s => xxhash64(lit(seed), s)))
    }: _*)
  }

  /** Per-doc shingle set + full MinHash signature in ONE compiled flatMap —
    * zero shuffles: tokenize, shingle, and the min-over-shingles of every
    * seeded hash are all functions of a single row. The earlier relational
    * form (posexplode + window leads + explode-seeds aggregation) paid a
    * full-corpus shuffle at the tokenize boundary plus a second aggregation
    * exchange over numHashes x shingle rows; this computes the same values
    * map-side and ships ONE compact row per document. Docs with fewer than
    * `n` tokens (or null text) produce no row, matching the relational
    * form's inner posexplode. One row per `idCol` value is assumed. */
  private def docShingleSigs(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, hashFn: (Int, String) => String): DataFrame = {
    import org.apache.spark.sql.types._
    // id stays its ORIGINAL type (string UUIDs/URLs included) — a long cast
    // here would silently null non-numeric ids and the null equi-joins
    // downstream would drop every row
    // fanOut: the per-doc signature loop below costs numHashes hash calls per
    // distinct shingle — orders of magnitude more CPU than the text bytes —
    // so a narrow input (one unsplittable file) must spread first (no-op on
    // an already-wide scan)
    val in = ScaleToolkit.fanOut(df.select(col(idCol).as("doc_id"),
      col(textCol).cast("string").as("text")))
    val outSchema = StructType(Seq(
      in.schema.fields(0),
      StructField("sh", ArrayType(StringType)),
      StructField("sig", ArrayType(StringType))))
    val batch = seededBatch(hashFn, numHashes)
    in.flatMap { row =>
      val all = shingleStringsOf(row.getString(1), n)
      if (all.isEmpty) Iterator.empty
      else {
        val set = new java.util.LinkedHashSet[String]()
        var i = 0
        while (i < all.length) { set.add(all(i)); i += 1 }
        val sig = new Array[String](numHashes)
        val it = set.iterator()
        while (it.hasNext) {
          val hs = batch(it.next())
          var k = 0
          while (k < numHashes) {
            val h = hs(k)
            if (sig(k) == null || h.compareTo(sig(k)) < 0) sig(k) = h
            k += 1
          }
        }
        Iterator.single(org.apache.spark.sql.Row(
          row.get(0), set.toArray(new Array[String](set.size())), sig))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** md5-based MinHash variant: slower than xxhash64 but bit-identical in
    * any engine that ships md5 (the cross-engine-verifiable path; the
    * lexicographic min over hex digests plays the role of the integer min). */
  def md5MinhashSignature(text: Column, numHashes: Int, shingleSize: Int = 3): Column = {
    val sh = shingles(tokens(text), shingleSize)
    array((0 until numHashes).map { seed =>
      array_min(transform(sh, s => md5(concat(lit(s"$seed:"), s))))
    }: _*)
  }

  /** Band key for the md5 variant: md5 over the band's signature slice. */
  def md5BandKey(sig: Column, band: Int, rowsPerBand: Int): Column =
    md5(concat_ws(",", slice(sig, band * rowsPerBand + 1, rowsPerBand)))

  /** LSH banding: `bands` keys per row; two docs sharing any band key are
    * candidates. rowsPerBand = numHashes / bands. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",", slice(sig, b * rowsPerBand + 1, rowsPerBand))).as("bucket"))
    }: _*)

  /** Candidate pairs from LSH buckets: explode band keys, self-join on the
    * (band, bucket) key, keep each unordered pair once. */
  def lshCandidates(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, shingleSize: Int = 3): DataFrame = {
    val rowsPerBand = numHashes / bands
    val keyed = df
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("sig", minhashSignature(col("text"), numHashes, shingleSize))
      .withColumn("bk", explode(bandKeys(col("sig"), bands, rowsPerBand)))
      .select(col("id"), col("bk.band"), col("bk.bucket"))
    val a = keyed.select(col("id").as("id_a"), col("band"), col("bucket"))
    val b = keyed.select(col("id").as("id_b"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact Jaccard over shingle sets — the verify stage, run on candidates
    * only. Joins the candidate pairs back to the corpus twice. */
  def jaccardVerify(candidates: DataFrame, df: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3, threshold: Double = 0.8): DataFrame = {
    val sets = df.select(col(idCol).as("id"),
      array_distinct(shingles(tokens(col(textCol)), shingleSize)).as("sh"))
    candidates
      .join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), Seq("id_a"))
      .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") / greatest(col("uni"), lit(1)).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** End-to-end MinHash near-dup pipeline: signature -> bands -> candidate
    * join -> exact verify. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, shingleSize: Int = 3,
      threshold: Double = 0.8): DataFrame =
    jaccardVerify(
      lshCandidates(df, idCol, textCol, numHashes, bands, shingleSize),
      df, idCol, textCol, shingleSize, threshold)

  /** Corpus-scale MinHash near-dup pipeline: compiled per-doc shingle-set +
    * signature map ([[docShingleSigs]] — no shuffle), band explode, band
    * self-join, Jaccard verify on the shingle sets. The only exchanges left
    * are the (band, bucket) window, the candidate distinct, and the two
    * verify joins — all over compact keyed rows, never raw token rows.
    * `hashFn` picks [[md5SeededHex]] (cross-engine deterministic, default)
    * or [[xxSeededStr]] (faster single-engine path). */
  def minhashNearDupsRelational(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8, bands: Int = 4, shingleSize: Int = 3,
      threshold: Double = 0.8,
      hashFn: (Int, String) => String = md5SeededHex,
      maxBucketSize: Int = 100000): DataFrame = {
    val rowsPerBand = numHashes / bands
    // Persist the one frame every branch reads: per-doc (shingle set,
    // signature) — one compact row per doc, scanned by the band explode and
    // both verify-join sides. The raw shingle rows of the old relational
    // form no longer exist at all.
    val sets = docShingleSigs(df, idCol, textCol, shingleSize, numHashes, hashFn)
      .transform(ScaleToolkit.cached)
    val bandStructs = (0 until bands).map { b =>
      val slots = (0 until rowsPerBand).map(r => col("sig").getItem(b * rowsPerBand + r))
      struct(lit(b).as("band"),
        md5(concat_ws(",", slots: _*)).as("bucket"))
    }
    val bandsDf = sets
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    // Candidate pairs per bucket: cap bucket membership BEFORE any pairing
    // with a partitioned row_number (a sort-based window — it streams and
    // spills, never holding the bucket in memory). The first
    // `maxBucketSize` members (by doc_id) pair all-pairs through a
    // bucket-keyed SELF-JOIN with id_a < id_b — the sort-merge join's
    // per-key group buffers spill to disk and the C(cap, 2) pair stream is
    // consumed incrementally (the previous collect_list + flatten shape
    // materialized every pair of a bucket inside ONE task's explode buffer
    // — at cap 100k that is ~5e9 structs, the exact failure class the r9
    // 64x stress caught in the embedding twin). Every member BEYOND the cap
    // pairs row-wise with the bucket's first member — so no member silently
    // escapes the verify stage, and the bound stays C(cap, 2) + (n - cap),
    // linear in the overflow.
    val bw = Window.partitionBy(col("band"), col("bucket")).orderBy(col("doc_id"))
    val ranked = bandsDf
      .withColumn("rn", row_number().over(bw))
      .withColumn("first_id", first(col("doc_id")).over(bw))
      .transform(ScaleToolkit.cached)
    val inCap = ranked.filter(col("rn") <= maxBucketSize)
    val inCapPairs = inCap
      .select(col("band"), col("bucket"), col("doc_id").as("id_a"))
      .join(inCap.select(col("band"), col("bucket"), col("doc_id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val overflowPairs = ranked.filter(col("rn") > maxBucketSize)
      .select(col("first_id").as("id_a"), col("doc_id").as("id_b"))
    val cand = inCapPairs.union(overflowPairs).distinct()
    cand
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        greatest(size(array_union(col("sh_a"), col("sh_b"))), lit(1)).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** 64-bit SimHash: per-token xxhash64; fingerprint bit i is the sign of the
    * token-count-weighted sum of bit i. Single pass, per-row. Built as a SQL
    * expression because the SQL `shiftright`/`shiftleft` accept column shift
    * amounts (the Scala wrappers only take Int literals).
    *
    * `textColSql` is a SQL expression for the text column (e.g. a column
    * name). */
  def simhashExpr(textColSql: String): Column = expr(s"""
    aggregate(
      zip_with(
        aggregate(
          split(trim(lower($textColSql)), '\\\\s+'),
          array_repeat(0L, 64),
          (acc, t) -> zip_with(acc,
            transform(sequence(0, 63),
              i -> CAST((shiftright(xxhash64(t), i) & 1) * 2 - 1 AS BIGINT)),
            (a, b) -> a + b)),
        sequence(0, 63),
        (c, i) -> IF(c > 0, shiftleft(1L, i), 0L)),
      0L, (acc, x) -> acc + x)""")

  /** Relational 64-bit SimHash: one row per token, then 64 conditional sums
    * (bit i set iff 2 * sum((h >> i) & 1) > token count). Everything stays
    * inside whole-stage codegen — the scale path where [[simhashExpr]]'s
    * nested array-HOF tower (interpreted, ~10 us/element) would become the
    * bottleneck. One shuffle on the doc id (the unavoidable tokenize
    * boundary). Returns (idCol, simhash64). */
  def simhashRelational(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // explode_outer + null-guarded hash: a NULL-text doc keeps its row (as a
    // NULL fingerprint, matching simhashExpr) instead of vanishing from the
    // output — xxhash64(null) would otherwise fold to the seed, not null
    val toks = df.select(col(idCol), explode_outer(tokens(col(textCol))).as("t"))
      .withColumn("h", when(col("t").isNotNull, xxhash64(col("t"))))
    val bitSums = (0 until 64).map(i =>
      sum(shiftright(col("h"), i).bitwiseAND(lit(1L))).as(s"b_$i"))
    val fingerprint = (0 until 64).map(i =>
      when(col(s"b_$i") * 2 > col("n"), lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    toks.groupBy(col(idCol))
      .agg(count(col("h")).as("n"), bitSums: _*)
      .select(col(idCol),
        when(col("n") > 0, fingerprint).as("simhash64"))
  }

  /** Hamming distance between two simhash fingerprints. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** n-gram Jaccard all-pairs within a bounded candidate scope: the caller
    * pre-buckets (e.g. by length band or LSH); this computes exact Jaccard
    * via a token-posting-list join — inverted-index style, not NxN. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sets = df.select(col(idCol).as("id"),
      array_distinct(shingles(tokens(col(textCol)), n)).as("sh"))
      .withColumn("sz", size(col("sh")))
    val postings = sets.select(col("id"), col("sz"), explode(col("sh")).as("g"))
    val a = postings.select(col("id").as("id_a"), col("sz").as("sz_a"), col("g"))
    val b = postings.select(col("id").as("id_b"), col("sz").as("sz_b"), col("g"))
    a.join(b, Seq("g")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"), first(col("sz_a")).as("sz_a"), first(col("sz_b")).as("sz_b"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Connected components over a near-dup pair list — the transitive-closure
    * step that turns pairwise matches into dedup CLUSTERS (keep one doc per
    * component, as The Stack / RedPajama do after MinHash): min-label
    * propagation, label(v) <- min over {v} ∪ neighbours until fixpoint.
    *
    * Scale shape: each round is one edge-keyed join + one node-keyed min
    * aggregation, then a POINTER-JUMP (label(v) <- label(label(v)), one
    * label-keyed self-join — the Shiloach-Vishkin / large-star shortcutting
    * move): the distance a label travels per round DOUBLES, so rounds are
    * O(log diameter) instead of diameter — a 32-hop chain converges in 8
    * rounds, not 31. All stages are plain shuffles on ids, nothing
    * collected. For near-dup graphs (cliques and short chains) the
    * diameter is small anyway; the jump makes the pathological long-chain
    * case cheap too, and `maxIters` still bounds it. The jump preserves
    * labels exactly: label(v) only ever decreases and every intermediate
    * label is a node id inside v's component, so the fixpoint (component
    * min) is unchanged. Convergence is one count per round (same
    * driver-loop discipline as [[Similarity.kmeansCentroids]]); each
    * generation is checkpointed (lazily from r19 on: the round's count
    * materializes it), which both caches the rows and TRUNCATES the
    * logical plan — persist alone keeps the full lineage tree, which grows
    * a join per round (and DOUBLES per round once the jump's self-join
    * kicks in; the accumulated plan alone OOMs the driver near round 9).
    * Checkpoints are LOCAL by default — executor loss mid-loop re-runs the
    * query, the standard trade iterative Spark algorithms make (GraphFrames'
    * connected components checkpoints the same way); configuring a
    * SparkContext checkpoint directory upgrades every generation to a
    * RELIABLE checkpoint for fault-tolerant runs at scale.
    * Returns (id, cluster) with cluster = min id in the component. */
  def connectedComponents(nodes: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b",
      maxIters: Int = 20): DataFrame = {
    // ids keep their original type (min-label works on any orderable type;
    // a long cast would silently null string ids and collapse components)
    //
    // persisted: the edge list joins against EVERY round's labels — without
    // the persist each round re-runs the whole upstream pair pipeline (a
    // MinHash candidate generation, a semi-join derivation, ...), a full
    // per-round corpus pass at real scale. Lazy: round 1's convergence
    // count materializes the blocks; unpersisted after the loop (the
    // returned labels frame is checkpointed, so it owns no edge lineage).
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .persist() // raw persist, not cached(): paired with unpersist below
    // Lineage truncation: localCheckpoint by default (fast, caching-based —
    // the standard iterative-Spark trade: executor loss re-runs the query).
    // When the session has a RELIABLE checkpoint directory configured
    // (spark.sparkContext.setCheckpointDir), generations checkpoint there
    // instead, so at real scale a lost executor replays from durable
    // storage rather than killing the job.
    //
    // A lazy reliable generation's RDD is persisted too, as localCheckpoint
    // does: its files are written by a second job after the action, which
    // would otherwise recompute the whole round (and the jump self-join's
    // sides would each compute `p` again). Persisting the frame would not
    // do: AQE materializes a cached frame as a query stage of its own, with
    // its own partitioning. Released once the round's action has run.
    val sc = nodes.sparkSession.sparkContext
    val reliable = sc.getCheckpointDir.isDefined
    val persisted = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    // a superseded generation's reliable checkpoint files: nothing reads
    // them once the next generation is materialized, and the checkpoint
    // dir would otherwise keep one full label table per round
    def dropCheckpoint(df: DataFrame): Unit = df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
      }
      case _ =>
    }
    def ckpt(df: DataFrame, eager: Boolean): DataFrame =
      if (!reliable) df.localCheckpoint(eager)
      else {
        val c = df.checkpoint(eager)
        if (!eager) c.queryExecution.logical match {
          case r: LogicalRDD => persisted += r.rdd.persist(StorageLevel.MEMORY_AND_DISK)
          case _ =>
        }
        c
      }
    var labels = ckpt(nodes
      .select(col(idCol).as("id"), col(idCol).as("cluster")), eager = true)
    val clusterType = labels.schema("cluster").dataType
    var it = 0
    var done = false
    while (!done && it < maxIters) {
      // the node's PREVIOUS label rides through the aggregate (its labels
      // row is unique per id, so min-over-non-null recovers it exactly):
      // the convergence count below becomes a filter over the round's
      // already-checkpointed blocks instead of a per-round shuffle join
      // back against `labels` (the r12->r13 q90 profile: that join was
      // the single largest per-round cost)
      val propagated = edges
        .join(labels.select(col("id").as("src"), col("cluster")), Seq("src"))
        .select(col("dst").as("id"), col("cluster"),
          lit(null).cast(clusterType).as("prev"))
        .union(labels.select(col("id"), col("cluster"),
          col("cluster").as("prev")))
        .groupBy(col("id")).agg(min(col("cluster")).as("cluster"),
          min(col("prev")).as("prev"))
      // Pointer jump from round 5 on: follow the label one more hop
      // through the freshly propagated table (labels are node ids, so the
      // self-join always resolves; coalesce only guards degenerate
      // inputs). ADAPTIVE because near-dup graphs are cliques and short
      // chains — any diameter <= 4 component converges in the plain
      // rounds with the EXACT per-round job count this operator always
      // had; only a graph still unconverged after four rounds (a
      // genuinely deep component, the pathological case) pays the extra
      // label-keyed join, and from there covered distance doubles per
      // round, so total rounds are O(log diameter) instead of diameter.
      //
      // Checkpoints are LAZY (r19): the convergence count below is the
      // round's ONLY action and materializes (caches + lineage-truncates)
      // the generation as a side effect — one Spark job per round instead
      // of separate checkpoint-materialize and count jobs. Correct because
      // the parents are unpersisted only AFTER the count has run.
      val (next, aux) = if (it < 4) (ckpt(propagated, eager = false), None)
        else {
          // checkpoint the propagated table so the self-join's two sides
          // (and the jump output) share ONE computation of the edge-join +
          // min-aggregate; blocks cache when the count job first reads them
          val p = ckpt(propagated, eager = false)
          val jumped = ckpt(p
            .join(p.select(col("id").as("cluster"), col("cluster").as("c2")),
              Seq("cluster"), "left")
            .select(col("id"),
              coalesce(col("c2"), col("cluster")).as("cluster"), col("prev")),
            eager = false)
          (jumped, Some(p))
        }
      // join-free convergence test: prev rode through the round; this one
      // action materializes the lazy checkpoint chain above
      val changed = next.filter(col("cluster") =!= col("prev")).count()
      aux.foreach(_.unpersist()) // p's blocks served the jump; next stands alone
      persisted.foreach(_.unpersist(blocking = false))
      persisted.clear()
      labels.unpersist()
      if (reliable) (labels +: aux.toSeq).foreach(dropCheckpoint)
      labels = next
      done = changed == 0
      it += 1
    }
    // the final labels generation is checkpointed (no lineage into edges),
    // so the edge cache can be released before returning
    edges.unpersist()
    labels.select(col("id"), col("cluster"))
  }

  /** Cross-document duplicate-content statistics (the corpus-level cousin of
    * the within-doc repetition score; CCNet §4.1 dedups on exactly this
    * signal at paragraph granularity): for each doc, the fraction of its
    * DISTINCT n-shingles that also occur in at least one other document.
    * High `dup_frac` marks boilerplate-heavy docs worth dropping even when
    * no single whole-doc near-dup exists.
    *
    * Scale shape: per-doc distinct shingling happens INSIDE one compiled
    * flatMap (local hash set, no distinct exchange); what shuffles is one
    * row per (doc, distinct shingle) — a shingle-keyed count with map-side
    * combine, a join back on the same shingle key (partitioning reused),
    * and a doc-keyed final agg. Because rows are per-doc-distinct, the
    * document frequency is a plain `count(*)`, never `count(DISTINCT)`. */
  /** CCNet-style LINE-level boilerplate removal (Wenzek et al. 2020 §3.1 —
    * they drop lines duplicated across the corpus before any model runs):
    * a non-blank line whose TRIMMED content appears in at least `minDf`
    * distinct documents is boilerplate (headers, footers, cookie banners)
    * and is cut; blank lines and rare lines keep their original order.
    * Returns (id, text_clean); documents whose every line is cut yield "".
    *
    * Scale shape: line document-frequency is one hash aggregation keyed by
    * line content; the filter joins line rows to the (content, df >= minDf)
    * set — ids and line hashes shuffle, whole documents never do; per-doc
    * reassembly sorts only that document's surviving lines. */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
      minDf: Int): DataFrame = {
    require(minDf >= 2, "minDf < 2 would cut every non-blank line")
    val in = df.select(col(idCol).as("id"), col(textCol).cast("string").as("t"))
    val lines = in.select(col("id"),
      posexplode(split(col("t"), "\n", -1)).as(Seq("ord", "line")))
      .withColumn("key", trim(col("line")))
    val boiler = lines.filter(col("key") =!= "")
      .groupBy(col("key"))
      .agg(countDistinct(col("id")).as("df_docs"))
      .filter(col("df_docs") >= minDf)
      .select(col("key"))
    val kept = lines.join(boiler, Seq("key"), "left_anti")
    val reassembled = kept
      .groupBy(col("id"))
      .agg(concat_ws("\n",
        transform(array_sort(collect_list(struct(col("ord"), col("line")))),
          x => x.getField("line"))).as("text_clean"))
    in.select(col("id")).join(reassembled, Seq("id"), "left")
      .withColumn("text_clean", coalesce(col("text_clean"), lit("")))
  }

  def crossDocDupShingleStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    // fanOut: per-doc distinct shingling is CPU-dense relative to its bytes
    val in = ScaleToolkit.fanOut(
      df.select(col(idCol).as("id"), col(textCol).cast("string").as("t")))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      in.schema.fields(0),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType)))
    // persisted: consumed by the document-frequency aggregate AND the join
    // back — one run of the distinct-shingle flatMap instead of two.
    // The shingle STRING is hashed to an xxhash64 long before the persist
    // (§2.2 narrow keys): the document-frequency aggregate and the join
    // back then group/shuffle 8-byte longs instead of ~20-byte shingle
    // strings (collision odds over ~1e6 distinct shingles are ~1e-7 at
    // 64 bits; a collision could only merge two shingles' counts).
    val sh = in.flatMap { row =>
      val docId = row.get(0)
      val seen = new scala.collection.mutable.LinkedHashSet[String]
      shingleStringsOf(row.getString(1), n).foreach(seen += _)
      seen.iterator.map(s => org.apache.spark.sql.Row(docId, s))
    }(org.apache.spark.sql.Encoders.row(outSchema))
      .select(col("id"), xxhash64(col("s")).as("h")).transform(ScaleToolkit.cached)
    val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("nd"))
    sh.join(dfreq, Seq("h"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_shingles"), 6))
  }

  /** Span-level exact-substring duplication (the signal behind Lee et al.
    * 2021's ExactSubstr dedup, arXiv:2107.06499 §4.1 — they build a suffix
    * array; the shingle posting-list form below computes the same ≥`n`-token
    * duplicated regions relationally): a token position is duplicated when
    * its `n`-shingle occurs ≥ `minCount` times corpus-wide; runs of
    * duplicated positions merge into maximal spans `[start_tok, end_tok]`
    * (token coverage union). Downstream either cuts the spans out or drops
    * docs whose spans cover too much.
    *
    * Scale shape: positions stream out of one compiled flatMap; the
    * occurrence count is a shingle-keyed agg with map-side combine; the
    * posting join reuses that partitioning; the span merge is one
    * doc-keyed sort window (each doc's positions sort locally). No suffix
    * array, no driver state, no quadratic stage. */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minCount: Long = 2): DataFrame = {
    // fanOut: the position-shingle explosion below is compute-dense per byte
    val in = ScaleToolkit.fanOut(
      df.select(col(idCol).as("id"), col(textCol).cast("string").as("t")))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      in.schema.fields(0),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType)))
    // persisted: consumed by the occurrence count AND the posting join — the
    // compiled flatMap (and the corpus scan under it; a union of three
    // document scans in the q86/q88 form) would otherwise run twice.
    // The position-shingle STRING is hashed to an xxhash64 long before the
    // persist (§2.2 narrow keys): the corpus-wide occurrence count and the
    // posting join then group/shuffle 8-byte longs instead of raw n-token
    // shingle strings (collision odds over ~1e6 distinct shingles are
    // ~1e-7 at 64 bits; a collision could only merge two shingles' counts).
    val sh = in.flatMap { row =>
      val docId = row.get(0)
      shingleStringsOf(row.getString(1), n).iterator.zipWithIndex.map {
        case (s, i) => org.apache.spark.sql.Row(docId, i + 1, s)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
      .select(col("id"), col("pos"), xxhash64(col("s")).as("h")).transform(ScaleToolkit.cached)
    val cnt = sh.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
    val marked = sh.join(cnt, Seq("h")).select(col("id"), col("pos"))
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val prev = lag(col("pos"), 1).over(w)
    marked
      .withColumn("brk", when(prev.isNull || col("pos") > prev + n, 1).otherwise(0))
      .withColumn("grp", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("start_tok"),
        (max(col("pos")) + (n - 1)).cast("long").as("end_tok"),
        count(lit(1)).as("n_dup_shingles"))
      .drop("grp")
  }

  /** Canonical-document selection — the materialization step after
    * [[connectedComponents]]: each duplicate cluster keeps its single best
    * member (highest `scoreCol`, id as the tie-break) and drops the rest.
    * One partitioned row_number over the cluster key (sort-based, spills;
    * the same skew-safe shape as the stratified cap). Returns the
    * surviving rows of `docs` plus their `cluster`. */
  def canonicalPerCluster(labels: DataFrame, docs: DataFrame, idCol: String,
      scoreCol: String): DataFrame = {
    val joined = docs.join(labels.select(col("id").as(idCol), col("cluster")), Seq(idCol))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col(scoreCol).desc, col(idCol))
    joined.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The apply half of [[dupSpans]] (Lee et al. 2021 CUT the duplicated
    * region, keeping the rest of the document): tokens inside any
    * duplicated span are removed; each surviving doc re-joins its kept
    * tokens in order (the normalized token stream — same lowercase/`\s+`
    * form the spans were computed on). Docs whose tokens are ALL inside
    * spans drop entirely.
    *
    * Scale shape: the span anti-join is id-equi (range check rides as the
    * join filter, never a nested loop over the corpus); the per-doc
    * reassembly aggregates one token list bounded by the document's own
    * length — the same bound as holding the document. Returns
    * (id, n_kept, clean_text). */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minCount: Long = 2): DataFrame = {
    // persisted: the normalized corpus feeds BOTH the span detection and the
    // token re-explode below — one upstream scan (three document scans in
    // the q88 union form) instead of two
    val in = ScaleToolkit.fanOut(
      df.select(col(idCol).as("id"), col(textCol).cast("string").as("t")))
      .transform(ScaleToolkit.cached)
    val spans = dupSpans(in, "id", "t", n, minCount)
      .select(col("id").as("sid"), col("start_tok"), col("end_tok"))
    val toks = in
      .select(col("id"), posexplode(tokens(col("t"))).as(Seq("p0", "w")))
      .select(col("id"), (col("p0") + 1).cast("long").as("pos"), col("w"))
    toks
      .join(spans, toks("id") === spans("sid")
        && col("pos") >= col("start_tok") && col("pos") <= col("end_tok"),
        "left_anti")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("w")))),
            x => x.getField("w")), " ").as("clean_text"))
  }
}
