package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard, over `documents`; embedding-cosine near-dup
  * lives in [[Similarity]].
  *
  * Scale design (100 TB discipline):
  *   - exact dedup is one hash-partition shuffle on the fingerprint;
  *   - MinHash signatures are computed per-row after one explode+groupBy on
  *     doc_id (the natural partition key), then candidate generation joins
  *     on band keys — only signature-sized rows shuffle, never documents;
  *   - the shingle-join for Jaccard carries a document-frequency cap hook
  *     (`maxDf`) so a hot shingle cannot produce a quadratic pair blowup;
  *   - hashes are md5 hex strings min-reduced lexicographically — a valid
  *     uniform MinHash that an external engine reproduces exactly.
  */
object Dedup {

  /** 3-gram (token) shingles, distinct per document.
    * `tokens[j..j+2]` for j in 1..len-2 (1-based), as space-joined strings.
    * Delegates to [[Curation.wordNgrams]] — one gram expression, three call
    * sites, so the oracle-mirrored definition cannot drift.
    */
  def shingles(text: Column): Column = Curation.wordNgrams(text, 3)

  /** Exact dedup: canonical = min doc_id among identical normalized texts.
    * One shuffle on the fingerprint.
    */
  def exact(docs: DataFrame): DataFrame = {
    val fp = TextAnalysis.fingerprint(col("text"))
    val w = Window.partitionBy(col("fingerprint"))
    docs.withColumn("fingerprint", fp)
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("is_dup", (col("doc_id") =!= col("canonical_id")).cast("int"))
      .select("doc_id", "fingerprint", "canonical_id", "is_dup")
  }

  val MinHashK = 8 // 8 hash functions -> 4 bands of 2 rows

  /** Per-document MinHash signature columns m0..m7. The 8 hash functions
    * are 8-hex-char chunks of TWO md5s (md5(s), md5("x"+s)) — one 128-bit
    * hash split into four 32-bit pieces is the standard way to buy k
    * minhashes for k/4 hash evaluations; each chunk-min is a valid uniform
    * minhash (lexicographic min over hex = min over the 32-bit value).
    */
  def minHashSignatures(docs: DataFrame): DataFrame = {
    // per-ROW array fold, not explode + groupBy: the signature is a pure
    // function of one document's shingle set, so it needs no exchange at
    // all — the old groupBy(doc_id) formulation shuffled a (partial-agg'd)
    // row per doc and paid the explode/hash-agg machinery per shingle.
    // Docs with NO shingles (< 3 tokens — wordNgramsAll is empty exactly
    // then, and distinct preserves non-emptiness) drop here exactly as the
    // explode dropped them; the gate tests the TOKEN count, not the built
    // shingle array, so the filter pass never constructs grams. The two
    // md5s land in ONE array of structs (`_hs`) evaluated once per row;
    // the 8 substring-min passes read it (CollapseProject keeps the
    // non-cheap `_hs` alias in its own projection, so it is not re-inlined
    // per signature column).
    val hs = transform(shingles(col("text")), s =>
      struct(md5(s).as("h1"), md5(concat(lit("x"), s)).as("h2")))
    val sigCols = (0 until MinHashK).map { i =>
      val f = if (i < 4) "h1" else "h2"
      array_min(transform(col("_hs"),
        h => substring(h.getField(f), (i % 4) * 8 + 1, 8))).as(s"m$i")
    }
    docs.filter(size(TextAnalysis.tokens(col("text"))) >= 3)
      .select(col("doc_id"), hs.as("_hs"))
      .select(col("doc_id") +: sigCols: _*)
  }

  /** Hot-band guard shared by every banded-LSH candidate join: drops
    * (band, key) groups whose member count exceeds `cap` BEFORE the
    * self-join, so one degenerate band key (all empty docs hashing alike,
    * an all-zero signature band) cannot make the pair join quadratic in
    * that key's row count. Same shape as the `maxDf` shingle guard in
    * [[ngramJaccard]]; `None` keeps the measure exact.
    */
  private[ops] def capBands(bands: DataFrame, idCol: String,
                            cap: Option[Int]): DataFrame = cap match {
    case Some(c) =>
      val keep = bands.groupBy("band", "key")
        .agg(count(lit(1)).as("_bdf")).filter(col("_bdf") <= c)
      bands.join(keep.select("band", "key"), Seq("band", "key"), "left_semi")
        .select(col(idCol), col("band"), col("key"))
    case None => bands
  }

  /** (doc_id, band, key) rows: MinHash band keys (band b = concat of
    * signature rows 2b, 2b+1) — the LSH index rows every candidate join and
    * the incremental path share.
    */
  def minHashBands(docs: DataFrame): DataFrame = {
    val bands = (0 until MinHashK / 2).map(b =>
      struct(lit(b).as("band"), concat(col(s"m${2 * b}"), col(s"m${2 * b + 1}")).as("key")))
    minHashSignatures(docs)
      .select(col("doc_id"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))
  }

  /** LSH candidate pairs: docs sharing any band key. Returns distinct
    * (doc_a < doc_b) pairs. `maxBandDf` drops band keys shared by more than
    * that many docs from pair generation (hot-band guard, see [[capBands]]).
    * One-shot convenience; long-lived sessions should use
    * [[minHashCandidatesWithCleanup]] and release the pinned signatures.
    */
  def minHashCandidates(docs: DataFrame, maxBandDf: Option[Int] = None): DataFrame =
    minHashCandidatesWithCleanup(docs, maxBandDf)._1

  def minHashCandidatesWithCleanup(docs: DataFrame, maxBandDf: Option[Int] = None)
      : (DataFrame, () => Unit) = {
    // signature-sized (4 rows/doc); pinned so the band-frequency pass and
    // the self-join evaluate the shingle+md5 lineage once, not once per use
    val exploded = minHashBands(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val joinable = capBands(exploded, "doc_id", maxBandDf)
    val a = joinable.as("a")
    val b = joinable.as("b")
    val pairs = a.join(b,
      col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    (pairs, () => { exploded.unpersist(); () })
  }

  /** SimHash-32: bit b is the sign of the (+1/-1) vote over all tokens'
    * b-th md5 hex char high-bit. Emits the 32-bit signature as a bit string
    * plus 4 8-bit band keys for hamming-neighbor candidate joins.
    */
  def simHash(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .withColumn("h", md5(col("tok")))
    // high-bit test per hex digit: md5 hex is lowercase [0-9a-f], whose
    // high-half chars {8,9,a..f} are EXACTLY the code points >= '8' (56)
    // — one substring + int compare per bit instead of the previous
    // 8-literal isin (256 single-char string compares per token)
    val bitAggs = (1 to 32).map { b =>
      sum(when(ascii(substring(col("h"), b, 1)) >= 56, 1).otherwise(-1))
        .as(s"c$b")
    }
    val counted = toks.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
    val bits = (1 to 32).map(b => when(col(s"c$b") > 0, "1").otherwise("0"))
    counted.withColumn("simhash", concat(bits: _*))
      .select(col("doc_id"), col("simhash"),
        substring(col("simhash"), 1, 8).as("band0"),
        substring(col("simhash"), 9, 8).as("band1"),
        substring(col("simhash"), 17, 8).as("band2"),
        substring(col("simhash"), 25, 8).as("band3"))
  }

  /** SimHash near-dup candidate pairs: docs sharing any 8-bit band, kept
    * when the full 32-bit hamming distance <= `maxHamming`. With 4 bands,
    * any pair at hamming <= 3 is guaranteed a colliding band (pigeonhole) —
    * recall is exact at that threshold. The band join shuffles only
    * (doc_id, 8-char key) rows; pairs are deduped BEFORE the 32-position
    * hamming expression so it evaluates once per unique pair, not once per
    * band collision.
    */
  def simHashPairs(docs: DataFrame, maxHamming: Int,
                   maxBandDf: Option[Int] = None): DataFrame =
    simHashPairsWithCleanup(docs, maxHamming, maxBandDf)._1

  def simHashPairsWithCleanup(docs: DataFrame, maxHamming: Int,
                              maxBandDf: Option[Int] = None): (DataFrame, () => Unit) = {
    val sig = simHash(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = (0 until 4).map(b =>
      struct(lit(b).as("band"), col(s"band$b").as("key")))
    // the collision join and pair-dedup carry only (doc ids, band key);
    // signatures re-attach afterwards from the signature table — no
    // broadcast hint: sig is corpus-sized (one row per doc), so AQE picks
    // broadcast only while it actually fits, shuffled hash join beyond
    val exploded = capBands(
      sig.select(col("doc_id"), explode(array(bands: _*)).as("bk"))
        .select(col("doc_id"), col("bk.band"), col("bk.key")),
      "doc_id", maxBandDf)
    val pairs = exploded.as("a")
      .join(exploded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sigs = sig.select(col("doc_id"), col("simhash"))
    val withSig = pairs
      .join(sigs.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("simhash", "sa"), Seq("doc_a"))
      .join(sigs.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("simhash", "sb"), Seq("doc_b"))
    // popcount of the XOR of the integer signatures — one codegen'd op per
    // pair instead of 32 substring compares (oracle mirrors via
    // bit_count(xor(CAST('0b'||sig AS BIGINT), ...)))
    val hamming = bit_count(
      conv(col("sa"), 2, 10).cast("long").bitwiseXOR(
        conv(col("sb"), 2, 10).cast("long")))
    val out = withSig
      .select(col("doc_a"), col("doc_b"), hamming.cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    (out, () => { sig.unpersist(); () })
  }

  /** The production two-stage fuzzy dedup: MinHash-LSH candidate generation
    * followed by exact Jaccard verification of ONLY the candidates — the
    * O(n^2) measure runs on the (tiny) candidate set, never on the corpus.
    */
  def minHashVerified(docs: DataFrame, threshold: Double,
                      maxBandDf: Option[Int] = None): DataFrame =
    minHashVerifiedWithCleanup(docs, threshold, maxBandDf)._1

  def minHashVerifiedWithCleanup(docs: DataFrame, threshold: Double,
                                 maxBandDf: Option[Int] = None)
      : (DataFrame, () => Unit) = {
    val (cands, candCleanup) = minHashCandidatesWithCleanup(docs, maxBandDf)
    val sh = docs.select(col("doc_id"), explode(shingles(col("text"))).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pinned: BOTH join sides below consume `sizes` — unpinned, each side
    // re-ran the full pass + aggregation exchange over the pinned shingle
    // frame (the r19 before-plan shows the HashAggregate+Exchange subtree
    // twice); pinned, the per-doc counts compute once and the tiny
    // (doc_id, n) frame serves both joins from cache
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shA = sh.select(col("doc_id").as("doc_a"), col("s"))
    val shB = sh.select(col("doc_id").as("_doc_b"), col("s").as("_sb"))
    val shared = cands
      .join(shA, Seq("doc_a"))
      .join(shB, col("doc_b") === col("_doc_b") && col("s") === col("_sb"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
    val out = shared
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "n_b"), "doc_b")
      .withColumn("jaccard", col("shared") / (col("n_a") + col("n_b") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    (out, () => { candCleanup(); sh.unpersist(); sizes.unpersist(); () })
  }

  /** Connected components of a duplicate-pair graph by iterative min-label
    * propagation: every doc in a component converges to the component's
    * minimum doc_id as `cluster_id` — the canonicalization step that turns
    * pairwise near-dup hits into dedup groups.
    *
    * Two regimes, chosen from the MEASURED edge count (the persist has to
    * materialize the pairs anyway, so the count is free):
    *   - at or under `localEdgeThreshold` edges, the whole graph fits one
    *     executor task: a single-partition union-find (one stage, no
    *     iteration) replaces a join loop whose per-round cost would be pure
    *     stage-scheduling overhead. This is an executor `mapPartitions`,
    *     NOT a driver collect — the driver still only sees row counts.
    *   - above it, each round does a neighbor-min propagation (join +
    *     min-aggregate) followed by a pointer-doubling hop
    *     (`lbl := label_of(lbl)` — valid because labels are node ids), so
    *     convergence needs O(log diameter) rounds: maxIters = 25 covers any
    *     component a physical corpus can produce, and exhausting it without
    *     convergence is an error, never a silently-wrong result. Per round
    *     the only data moved is (id, label) pairs — the classic scalable CC
    *     formulation (GraphX/Pregel does the same joins under the hood).
    *
    * The threshold mirrors a broadcast-join cutoff: 5M edges ≈ 80 MB of
    * longs in one task — comfortable; a 100 TB corpus whose near-dup graph
    * exceeds it takes the distributed loop. Both regimes produce identical
    * output (spec-pinned).
    */
  def dedupClusters(pairs: DataFrame, maxIters: Int = 25,
                    localEdgeThreshold: Long = 5000000L): DataFrame =
    dedupClustersWithCleanup(pairs, maxIters, localEdgeThreshold)._1

  /** Single-partition union-find over an already-symmetrized edge frame.
    * Path-halving find; label = min node id of the component.
    */
  private def localComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("src"), col("dst")).as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x0: Long): Long = {
          var x = x0
          while (parent.getOrElse(x, x) != x) {
            val p = parent(x)
            parent(x) = parent.getOrElse(p, p) // path halving
            x = parent(x)
          }
          x
        }
        it.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        // union-by-min above makes every root the component minimum already.
        // Lazy map — NOT .toSeq: a strict copy would hold millions of boxed
        // tuples next to the LongMap in this one task. find() only rewrites
        // values of existing keys (path halving), never inserts, so
        // iterating keys while resolving them is safe.
        parent.keysIterator.map(id => (id, find(id)))
      }
      .toDF("doc_id", "cluster_id")
  }

  def dedupClustersWithCleanup(pairs: DataFrame, maxIters: Int = 25,
                               localEdgeThreshold: Long = 5000000L)
      : (DataFrame, () => Unit) = {
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // symmetrize via a per-row explode, NOT union(p, p.swapped): the union
    // form read the pair pipeline twice, which needed its own persist (a
    // full cache-materialization pass) just to keep the expensive candidate
    // generation from running twice — the explode emits both directions in
    // the one pass the distinct was already paying for (same multiset in,
    // identical distinct out)
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct().persist(mem)
    val nEdges = edges.count() // materializes the pin; regime decision input
    if (nEdges <= localEdgeThreshold) {
      val out = localComponents(edges).localCheckpoint(true)
      edges.unpersist()
      return (out, () => ())
    }
    // each round ends in an EAGER localCheckpoint: iterative plans otherwise
    // nest one round inside the next and grow without bound (plan
    // stringification alone OOMs after ~8 rounds); checkpointing pins the
    // round's rows and resets the plan to a leaf, the standard lineage
    // discipline for iterative Spark algorithms
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id")).localCheckpoint(true)
    var changed = 1L
    var iters = 0
    while (changed > 0 && iters < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("lbl").as("dlbl")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("dlbl")).as("nlbl"))
      // carry the previous label alongside so the convergence check needs
      // no second join against the old frame
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      // pointer-doubling hop: adopt the label OF my label when smaller —
      // labels are node ids, so the lookup is a self-join on the same frame
      val next = stepped.as("x")
        .join(stepped.select(col("id").as("lbl"), col("lbl").as("lbl2")).as("y"),
          Seq("lbl"), "left")
        .select(col("id"), col("old"),
          least(col("lbl"), coalesce(col("lbl2"), col("lbl"))).as("lbl"))
        .localCheckpoint(true)
      changed = next.filter(col("lbl") =!= col("old")).count()
      labels = next.select("id", "lbl")
      iters += 1
    }
    if (changed > 0) {
      edges.unpersist() // release the pin on the failure path too, or a
                        // caller retrying with higher maxIters leaks it
      throw new IllegalStateException(
        s"dedupClusters did not converge in $maxIters rounds ($changed labels " +
          "still moving) — result would silently disagree with the transitive closure")
    }
    val out = labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
    edges.unpersist()
    // checkpointed round RDDs are reclaimed by the ContextCleaner once
    // unreferenced; nothing further to release
    (out, () => ())
  }

  /** n-gram Jaccard similarity for every pair of documents sharing at least
    * one shingle: |A ∩ B| / |A ∪ B| over distinct 3-gram shingle sets.
    * `maxDf` drops shingles occurring in more than that many documents from
    * pair *generation* (hot-key guard); at the default the measure is exact.
    */
  /** Exact Jaccard self-join with PREFIX FILTERING (the PPJoin candidate
    * rule, Xiao et al. 2008) at threshold tNum/tDen: each document joins
    * only on its `n - ceil(t*n) + 1` globally-RAREST shingles (order =
    * (document frequency, shingle)), because any pair with Jaccard >= t
    * must share at least one shingle inside both prefixes. Candidates are
    * then verified on the FULL shingle sets, so the output is identical to
    * [[ngramJaccard]] — which is exactly what the `dedup_prefix_jaccard`
    * oracle pins by recomputing with the brute inverted-index join.
    *
    * Why it scales where the full join hurts: the inverted-index join
    * generates a pair per SHARED SHINGLE — a stopword 3-gram appearing in
    * 1% of a corpus alone contributes (N/100)^2 join rows. Prefix tokens
    * are each document's rarest shingles, so hot shingles land in almost
    * no prefixes and the candidate volume tracks the true near-dup count,
    * not the token-frequency skew.
    *
    * Regime boundary — MEASURED, see STRESS.md for the full matrix. Two
    * conditions must hold for the filter to win:
    * (1) high threshold: prefix length is n - ceil(t*n) + 1, so at t <
    *     ~0.5 prefixes cover most shingles and the rule cannot filter;
    * (2) frequency SKEW: the brute join's cost is sum(df^2) over
    *     shingles, so it only hurts when some shingles are hot. On the
    *     template/boilerplate regime (a block shared by all N docs,
    *     df = N — cookie banners, site chrome) the brute join owes
    *     ~20 * N^2/2 pair rows to the template alone: at 50k docs it did
    *     not finish in 15 min while this operator took 9.5s, and its
    *     runs destabilize (9/50/72s) already at 5k docs. On a SKEW-FREE
    *     corpus (uniform low df — the driver's synthetic tables, or
    *     uniformly mirrored copies where every df scales together) the
    *     brute join's volume is linear-ish and ~2x FASTER than this
    *     operator's extra df-count/rank/verify passes (1.2s vs 2.8s at
    *     sf0.1) — the bench pair `dedup_ngram_jaccard_t07` vs
    *     `dedup_prefix_jaccard` records exactly that, honestly.
    * Use this operator for high-threshold dedup over real-world (Zipfian)
    * text; use the brute join for small or skew-free corpora.
    * The threshold arrives as a RATIONAL
    * (tNum/tDen): prefix lengths use exact integer ceil — a float ceil
    * sitting on a representation error (0.4 * 5 = 2.0000000000000004)
    * would shorten a prefix and silently drop true pairs.
    */
  def prefixJaccard(docs: DataFrame, tNum: Int, tDen: Int): DataFrame =
    prefixJaccardWithCleanup(docs, tNum, tDen)._1

  def prefixJaccardWithCleanup(docs: DataFrame, tNum: Int, tDen: Int)
      : (DataFrame, () => Unit) = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, "threshold must be in (0, 1]")
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sh = docs.select(col("doc_id"), explode(shingles(col("text"))).as("s"))
      .persist(mem)
    // pinned: both verification size joins consume it (see the identical
    // note in [[minHashVerifiedWithCleanup]])
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .persist(mem)
    // global document frequency via groupBy + join back (NOT a count
    // window over partitionBy(s): the groupBy's map-side partial
    // aggregation shuffles one row per distinct shingle, where the window
    // would shuffle the FULL shingle frame — measured equal at sf0.1,
    // structurally better under hot-shingle skew)
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("_df"))
    // per-doc rank by global rarity — a doc-keyed window, never global
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("_df"), col("s"))
    // set size via a count window over the SAME doc_id partitioning as the
    // rank — one exchange serves both, instead of a separate groupBy+join
    val wN = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val prefix = sh.join(dfreq, "s")
      .withColumn("_rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wN))
      // integer ceil(t*n) = (tNum*n + tDen-1) DIV tDen
      .filter(col("_rn") <=
        col("n") - expr(s"(n * $tNum + ${tDen - 1}) DIV $tDen") + 1)
      .select(col("doc_id"), col("s"))
      .persist(mem)
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // exact verification over the full sets, candidates only
    val shared = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("s")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
    val out = shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .withColumn("jaccard", col("shared") / (col("n_a") + col("n_b") - col("shared")))
      .filter(col("jaccard") >= tNum.toDouble / tDen)
      .select("doc_a", "doc_b", "shared", "n_a", "n_b", "jaccard")
    (out, () => { sh.unpersist(); sizes.unpersist(); prefix.unpersist(); () })
  }

  def ngramJaccard(docs: DataFrame, threshold: Double, maxDf: Option[Int] = None): DataFrame =
    ngramJaccardWithCleanup(docs, threshold, maxDf)._1

  def ngramJaccardWithCleanup(docs: DataFrame, threshold: Double,
                              maxDf: Option[Int] = None): (DataFrame, () => Unit) = {
    val (overlap, cleanup) = shingleOverlapWithCleanup(docs, maxDf)
    val out = overlap
      .withColumn("jaccard", col("shared") / (col("n_a") + col("n_b") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "shared", "n_a", "n_b", "jaccard")
    (out, cleanup)
  }

  /** Containment near-dup pairs: |A∩B| / min(|A|, |B|) over the same
    * shingle sets — the doc-in-doc measure. A short doc fully embedded in a
    * long one scores Jaccard ~|A|/|B| (arbitrarily small) but containment
    * 1.0, so Jaccard-threshold dedup never sees it; containment is how
    * wrapped boilerplate and quoted-in-full duplication get caught.
    * Candidate generation is the shingle join itself (band-based MinHash
    * blocking keys on Jaccard and would miss exactly these pairs), with the
    * same `maxDf` hot-shingle cap bounding the join.
    */
  def containmentPairs(docs: DataFrame, threshold: Double,
                       maxDf: Option[Int] = None): DataFrame =
    containmentPairsWithCleanup(docs, threshold, maxDf)._1

  def containmentPairsWithCleanup(docs: DataFrame, threshold: Double,
                                  maxDf: Option[Int] = None): (DataFrame, () => Unit) = {
    val (overlap, cleanup) = shingleOverlapWithCleanup(docs, maxDf)
    val out = overlap
      .withColumn("containment", col("shared") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "shared", "n_a", "n_b", "containment")
    (out, cleanup)
  }

  /** Shared core of the set-overlap measures ([[ngramJaccard]],
    * [[containmentPairs]]): df-capped shingle self-join ->
    * (doc_a, doc_b, shared, n_a, n_b). One definition, every measure —
    * the overlap arithmetic cannot drift between them.
    */
  private def shingleOverlapWithCleanup(docs: DataFrame, maxDf: Option[Int])
      : (DataFrame, () => Unit) = {
    // shingle-exploded rows feed the self-join (twice) and the size agg —
    // pin them so the tokenize+shingle lineage runs once
    val sh = docs.select(col("doc_id"), explode(shingles(col("text"))).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val joinable = maxDf match {
      case Some(cap) =>
        val df = sh.groupBy("s").agg(count(lit(1)).as("_df")).filter(col("_df") <= cap)
        sh.join(df.select("s"), Seq("s"), "left_semi")
      case None => sh
    }
    // pinned: consumed by BOTH size joins below — unpinned, each join side
    // re-ran the full pass + aggregation exchange over the pinned shingle
    // frame (same double-subtree the r19 minhash_verified before-plan shows)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = joinable.as("a")
      .join(joinable.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    val out = pairs
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "n_b"), "doc_b")
    (out, () => { sh.unpersist(); sizes.unpersist(); () })
  }

  /** Cross-document repeated-span statistics: for each document, how many of
    * its distinct word n-grams also occur in at least `minDf` documents
    * corpus-wide (itself included) — the sub-document dedup signal used to
    * strip boilerplate and templated spans (the C4 line-dedup / RefinedWeb
    * repeated-span procedure, at n-gram granularity since granularity below
    * the document is what "line" really means).
    *
    * Two shuffles, both linear: one window over the span-partitioned explode
    * (the document frequency), one groupBy back on doc_id. No self-join
    * exists anywhere, so a hot span costs linear skew (AQE splits it), never
    * a quadratic pair blowup — this is the shape that distinguishes span
    * *counting* from pair *generation*.
    */
  def spanStats(docs: DataFrame, n: Int = 5, minDf: Int = 2): DataFrame = {
    require(minDf >= 1, "minDf must be >= 1")
    val grams = docs.select(col("doc_id"),
      explode(Curation.wordNgrams(col("text"), n)).as("g"))
    val df_ = grams.withColumn("_df",
      count(lit(1)).over(Window.partitionBy(col("g"))))
    val agg = df_.groupBy("doc_id").agg(
      count(lit(1)).as("n_spans"),
      count(when(col("_df") >= minDf, 1)).as("n_dup_spans"))
    docs.select("doc_id").join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        when(coalesce(col("n_spans"), lit(0L)) > 0,
          coalesce(col("n_dup_spans"), lit(0L)) / col("n_spans"))
          .otherwise(lit(0.0)).as("dup_span_frac"))
  }

  /** Incremental near-dup detection of a new batch against an existing
    * corpus: MinHash band keys on both sides, a Bloom-filter prefilter built
    * from the history's band keys, then exact verification of only the
    * surviving batch bands. Returns one row per batch document with the
    * number of colliding bands and a near-dup flag.
    *
    * This is the arriving-data half of dedup at 100 TB: the history is
    * scanned once to build the Bloom (O(`expectedBands` * ln(1/`fpp`)) bits
    * of driver/executor state — a config-sized broadcast, not data-sized)
    * and once for the verify join, where it joins against the *broadcast*
    * post-Bloom candidate set — the history never shuffles, and batch rows
    * that match nothing (the common case for fresh data) are dropped at the
    * scan by the Bloom. False positives cannot leak: the verify join is
    * exact, so the Bloom only ever costs extra verification, never a wrong
    * answer. In a long-lived pipeline the history band index persists in a
    * [[graft.cdc.ManifestStore]] keyed on the band
    * ([[graft.ops.StreamingDedup]]) instead of being recomputed per batch.
    *
    * `maxBandDf` caps hot band keys on the HISTORY side (same degenerate-band
    * guard as every LSH join here, see [[capBands]]).
    */
  def incrementalNearDups(history: DataFrame, batch: DataFrame,
                          maxBandDf: Option[Int] = None,
                          expectedBands: Long = 1 << 20,
                          fpp: Double = 0.01): DataFrame =
    incrementalNearDupsWithCleanup(history, batch, maxBandDf, expectedBands, fpp)._1

  def incrementalNearDupsWithCleanup(history: DataFrame, batch: DataFrame,
                                     maxBandDf: Option[Int] = None,
                                     expectedBands: Long = 1 << 20,
                                     fpp: Double = 0.01): (DataFrame, () => Unit) = {
    // history band keys feed the Bloom build AND the verify join — pinned so
    // the shingle+md5 lineage runs once, not once per use
    val hist = capBands(minHashBands(history), "doc_id", maxBandDf)
      .select(concat(col("band"), lit(":"), col("key")).as("bk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bloom = hist.stat.bloomFilter("bk", expectedBands, fpp)
    val mightContain = udf((bk: String) => bloom.mightContain(bk))
    val cand = minHashBands(batch)
      .withColumn("bk", concat(col("band"), lit(":"), col("key")))
      .filter(mightContain(col("bk")))
    // verify: history streams past the broadcast candidates; distinct on
    // (batch doc, band) because one band key can match many history rows
    val hits = hist
      .join(broadcast(cand.select(col("doc_id").as("b_doc"), col("band"), col("bk"))), Seq("bk"))
      .select("b_doc", "band").distinct()
      .groupBy(col("b_doc").as("doc_id")).agg(count(lit(1)).as("n_hit_bands"))
    val out = batch.select("doc_id").join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hit_bands"), lit(0L)).as("n_hit_bands"),
        (coalesce(col("n_hit_bands"), lit(0L)) > 0).cast("int").as("is_near_dup"))
    (out, () => { hist.unpersist(); () })
  }
}
