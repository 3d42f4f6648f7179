package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, in increasing
  * fuzziness: exact (hash groupBy), n-gram Jaccard verification,
  * MinHash+LSH candidate generation, SimHash bit-signatures.
  *
  * Scale design: every step is a shuffle on a bounded key (content hash,
  * band hash, doc id) — never an all-pairs product. LSH banding turns the
  * quadratic candidate problem into a per-bucket join; exact verification
  * only touches candidate pairs.
  */
object Dedup {

  /** Exact dedup by full-content hash: one row per distinct content with
    * the kept (minimum) id and the duplicate count. Single hash-shuffle.
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Incremental exact dedup — the production ingest loop, where a
    * persistent fingerprint REGISTRY (one `content_hash` row per document
    * ever accepted) deduplicates each incoming batch without rescanning
    * the historical corpus. Returns the batch rows that are globally new:
    * their hash is absent from `registry`, and within the batch the
    * smallest id claims the hash. Append the returned hashes to the
    * registry afterwards to complete the loop (materialize the result
    * first — the committed registry update must not feed back into the
    * batch's own anti-join).
    *
    * Scale shape: per-batch work is one hash-keyed min-aggregation plus
    * one anti join against the registry — cost ∝ batch, never ∝ history.
    * Keep the registry in a hash-bucketed store table (row table keyed
    * on content_hash): the anti join then shuffles ONLY the incoming
    * batch to the registry's bucketing, and the registry side streams
    * with zero exchange (the storage-partitioned-join path).
    */
  def incrementalDedup(batch: DataFrame, idCol: String, textCol: String,
      registry: DataFrame): DataFrame = {
    // the within-batch min-id SEMI join runs on a null-coalesced key (md5
    // output is 32 hex chars, so the sentinel can't collide): a plain
    // equi-join drops null keys, which would silently discard EVERY
    // null-text row instead of keeping the class's min-id representative.
    // The registry ANTI join stays on the RAW column — anti-join
    // semantics already pass null keys through (null matches nothing, so
    // the row is "new", exactly the oracle's LEFT JOIN ... IS NULL
    // behavior), and the untouched key keeps the bucketed registry's
    // zero-exchange storage-partitioned join path intact.
    val hashed = batch.withColumn("content_hash", md5(col(textCol)))
      .withColumn("__hkey", coalesce(col("content_hash"), lit("null-text")))
    val first = hashed.groupBy(col("__hkey")).agg(min(col(idCol)).as(idCol))
    hashed.join(first, Seq("__hkey", idCol), "left_semi").drop("__hkey")
      .join(registry.select(col("content_hash")), Seq("content_hash"), "left_anti")
  }

  /** Span-level dedup (C4 / RefinedWeb-style boilerplate removal): the
    * token stream of each document is cut into NON-overlapping spans of
    * `spanTokens` tokens (the last span may be shorter), any span whose
    * exact text occurs in at least `minDupDocs` distinct documents is
    * removed everywhere it occurs, and each document is reassembled from
    * its surviving spans in order. This is the intra-corpus complement of
    * [[ngramContamination]]: there the reference set is external, here the
    * corpus is matched against itself — repeated spans ARE the nav menus,
    * cookie banners and licence blocks a web corpus wants gone.
    *
    * Output: (doc_id, n_spans_kept, n_spans_removed, clean_text) — one
    * row per non-null-text document, clean_text possibly empty when every
    * span was boilerplate.
    *
    * Scale shape: span expansion happens inside the scan (sequence/
    * slice/array_join — no UDF, no shuffle); the duplicate-span set is one
    * count-distinct aggregation keyed on the span text; the flag join and
    * the reassembly groupBy are both bounded-key shuffles (span text, doc
    * id). Nothing is quadratic and nothing collects to the driver. At
    * web scale the duplicate-span side is NOT small (near-dup documents
    * make it grow with the corpus), so no broadcast is hinted — AQE
    * broadcasts it while it fits and degrades to a span-keyed shuffle
    * join beyond that. If the shuffled span-text width ever dominates,
    * pre-hash the join key (xxhash64 — at 10¹¹ spans the 64-bit collision
    * expectation is ~0.3 spans, each wrongly REMOVED; acceptable for
    * corpus hygiene, not for the exact oracle here).
    */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int, minDupDocs: Int = 2): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be positive: $spanTokens")
    require(minDupDocs >= 2, s"minDupDocs below 2 removes everything: $minDupDocs")
    val toks = split(col(textCol), "\\s+")
    // spans carry their 60-bit fingerprint from the scan: the corpus-wide
    // duplicate detection then shuffles (hash, sid) pairs — ~16 bytes per
    // span — instead of the span TEXT (which would re-shuffle the whole
    // corpus); the text rides only the final doc-keyed rebuild, which
    // needs it anyway. Engine-portable hash, so the oracle replays it.
    val spans = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("sid"), toks.as("t"))
      .select(col("sid"), posexplode(
        transform(
          sequence(lit(0),
            ceil(size(col("t")) / lit(spanTokens.toDouble)).cast("int") - 1),
          k => array_join(slice(col("t"), k * spanTokens + 1, lit(spanTokens)), " "))))
      .select(col("sid"), col("pos").as("k"), col("col").as("span"),
        md5Hash60(col("col")).as("__wh"))
    val dup = spans.groupBy("__wh")
      .agg(count_distinct(col("sid")).as("__ndocs"))
      .filter(col("__ndocs") >= minDupDocs)
      .select(col("__wh"), lit(true).as("__dup"))
    spans.join(dup, Seq("__wh"), "left")
      .withColumn("__kept", col("__dup").isNull)
      .groupBy(col("sid").as("doc_id"))
      .agg(
        count(when(col("__kept"), 1)).as("n_spans_kept"),
        count(when(!col("__kept"), 1)).as("n_spans_removed"),
        array_join(
          transform(
            // collect_list drops the nulls when() emits for removed spans;
            // sorting the (k, span) structs restores document order
            sort_array(collect_list(
              when(col("__kept"), struct(col("k"), col("span"))))),
            s => s.getField("span")),
          " ").as("clean_text"))
  }

  /** Exact duplicated-substring detection (the distributed shape of
    * suffix-array substring dedup as published for LM training corpora):
    * every OVERLAPPING `windowTokens`-token window is fingerprinted, a
    * window whose fingerprint occurs at least `minCount` times corpus-wide
    * (within-doc repeats included) is duplicated, and per document the
    * duplicated window positions merge into maximal token ranges — the
    * substrings a dedup pass would cut. Unlike [[spanDedup]] (aligned
    * non-overlapping spans), overlapping windows catch duplicated text at
    * ANY offset.
    *
    * Output: (doc_id, range_start, range_end, n_windows) — token-index
    * ranges (0-based, inclusive), one row per maximal duplicated range.
    *
    * Scale shape: windows are fingerprinted INSIDE the scan by the
    * codegen'd Rabin-Karp expression
    * [[org.apache.spark.sql.graft.RollingWindowHash]] — one md5 per
    * TOKEN plus O(1) field ops per window (linear in corpus tokens,
    * where the md5-of-rejoined-window formulation paid tokens ×
    * windowTokens character work; both remain engine-portable, so the
    * SQL oracle replays the exact dup set). The counting shuffle
    * carries ~12 bytes per window instead of the window text; the
    * duplicate set is one hash-keyed count; the semi join back is
    * AQE-broadcast while the dup set fits and a bounded-key shuffle
    * beyond; the island merge sorts only the DUPLICATED positions per
    * doc (a tiny fraction of the corpus), never the full window stream.
    */
  def dupSubstringRanges(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int, minCount: Int = 2): DataFrame = {
    require(windowTokens >= 2, s"windowTokens too small: $windowTokens")
    require(minCount >= 2, s"minCount below 2 flags everything: $minCount")
    val toks = split(col(textCol), "\\s+")
    val wins = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("sid"), toks.as("t"))
      .filter(size(col("t")) >= windowTokens)
      .select(col("sid"), posexplode(
        org.apache.spark.sql.graft.TextHashExpressions
          .rolling_window_hash(col("t"), windowTokens)))
      .select(col("sid"), col("pos").as("p"), col("col").as("wh"))
    val dup = wins.groupBy("wh").agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minCount)
      .select("wh")
    val byDoc = Window.partitionBy("sid").orderBy("p")
    wins.join(dup, Seq("wh"), "left_semi")
      .withColumn("__prev", lag(col("p"), 1).over(byDoc))
      // consecutive duplicated windows whose ranges overlap share an
      // island; a gap wider than windowTokens-1 positions starts a new one
      .withColumn("__brk",
        when(col("__prev").isNull ||
          col("p") - col("__prev") > windowTokens - 1, 1).otherwise(0))
      .withColumn("__g", sum(col("__brk")).over(byDoc))
      .groupBy(col("sid").as("doc_id"), col("__g"))
      .agg(
        min(col("p")).cast("long").as("range_start"),
        (max(col("p")) + windowTokens - 1).cast("long").as("range_end"),
        count(lit(1)).as("n_windows"))
      .drop("__g")
  }

  /** Distinct word n-gram shingles per document: (id, shingle). */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    rawShingles(docs, idCol, textCol, n).distinct()

  private[graft] def rawShingles(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val toks = split(col(textCol), "\\s+")
    docs.select(col(idCol).as("sid"), toks.as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("sid"), explode(
        transform(sequence(lit(0), size(col("toks")) - n),
          i => concat_ws(" ", (0 until n).map(j => element_at(col("toks"), i + j + 1)): _*)))
        .as("shingle"))
  }

  /** [[shingles]] with the n-gram TEXT collapsed to its 8-byte xxhash64
    * BEFORE the distinct: every downstream exchange — the distinct
    * itself, the document-frequency cap aggregate, both sides of the
    * candidate self-join — then shuffles a long instead of ~n-word
    * strings (guide §2.3, shuffle fewer bytes). Set algebra (DF counts,
    * intersection counts, set sizes) is isomorphic under any INJECTIVE
    * mapping of shingle texts, so results are unchanged as long as
    * xxhash64 is collision-free over the corpus's distinct shingles —
    * PipelineOpsSpec asserts it on the testdata at every SF
    * (distinct-shingle count == distinct-hash count). At web scale
    * (10¹¹ shingles) the 64-bit birthday expectation is ≲1 colliding
    * pair, which merges two shingles' counts — the [[spanDedup]]-class
    * trade, acceptable for corpus hygiene, not for the exact oracle
    * (which this corpus's collision-freedom preserves).
    */
  private[graft] def hashedShingles(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    rawShingles(docs, idCol, textCol, n)
      .select(col("sid"), xxhash64(col("shingle")).as("hsh"))
      .distinct()

  /** Shingle-set sizes per doc: (sid, set_size). */
  private def shingleSizes(sh: DataFrame): DataFrame =
    sh.groupBy("sid").agg(count(lit(1)).as("set_size"))

  /** Exact Jaccard for given candidate pairs (a, b) over a shingle table.
    * Joins pairs→shingles on each side, counts the intersection, derives
    * the union from per-doc set sizes. Cost ∝ candidate pairs, not n².
    */
  def jaccardVerify(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val inter = pairs
      .join(sh.withColumnRenamed("sid", "a").withColumnRenamed("shingle", "sa"), "a")
      .join(sh.withColumnRenamed("sid", "b").withColumnRenamed("shingle", "sb"), "b")
      .filter(col("sa") === col("sb"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_inter"))
    jaccardFromInter(inter, shingleSizes(sh))
  }

  /** THE Jaccard spelling: (a, b, n_inter) x per-doc set sizes →
    * (a, b, jaccard). One copy, shared by the given-pairs verifier and
    * the threshold sweep, so the definition cannot drift.
    */
  private def jaccardFromInter(inter: DataFrame, sizes: DataFrame): DataFrame =
    inter
      .join(sizes.withColumnRenamed("sid", "a").withColumnRenamed("set_size", "size_a"), "a")
      .join(sizes.withColumnRenamed("sid", "b").withColumnRenamed("set_size", "size_b"), "b")
      .select(col("a"), col("b"),
        (col("n_inter").cast("double") /
          (col("size_a") + col("size_b") - col("n_inter"))).as("jaccard"))

  /** Dedup threshold sweep — the removal-budget planning report: how many
    * near-dup pairs would each Jaccard threshold catch? One pass over the
    * candidate pairs yields the whole curve (band = floor(10·jaccard),
    * so band 7 counts pairs in [0.7, 0.8)), instead of re-running dedup
    * per candidate threshold.
    *
    * Similarity is defined over DF-CAPPED shingle sets (shingles in more
    * than `maxShingleDf` docs are excluded — boilerplate n-grams would
    * otherwise both blow up the self-join and drag unrelated docs
    * together; same guard as the containment operator). The band edge is
    * one IEEE division + floor — engine-exact, no rounding ambiguity.
    *
    * Scale shape: shingle-keyed self-join with per-shingle fan-out
    * bounded by maxShingleDf² — linear in corpus shingles, never n²
    * over docs; the histogram is a |bands|-row aggregate.
    */
  def thresholdSweep(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, floor: Double = 0.5,
      maxShingleDf: Int = 50): DataFrame = {
    require(floor > 0 && floor <= 1, s"floor must be in (0, 1]: $floor")
    require(maxShingleDf >= 2,
      s"maxShingleDf below 2 admits no shared shingle: $maxShingleDf")
    // Shingle keys stay TEXT here (measured, r16): hashing them to longs
    // (hashedShingles — the containmentPairs win) LOST 15-30% on this
    // query at bench scale in interleaved A/B, with or without a
    // strategy pin on the self-join. StageProbe decomposition: the two
    // scan→explode pipelines pay xxhash64 per shingle INSTANCE (~+0.25 s
    // CPU), the saved exchange bytes (9.6→6.9 MB) are nearly free on a
    // local-disk shuffle, and the shrunken size estimate flips the
    // self-join to a parallelism-losing broadcast build (8 tasks → 3).
    // The byte-narrowing argument only pays when shuffle bytes cross a
    // real network; revisit with the replica arm if this query's scale
    // profile ever changes.
    val sh = shingles(docs, idCol, textCol, shingleLen)
    val capped = sh.join(
      sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxShingleDf).select("shingle"),
      Seq("shingle"), "left_semi")
    val inter = capped.select(col("shingle"), col("sid").as("a"))
      .join(capped.select(col("shingle"), col("sid").as("b")), "shingle")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_inter"))
    jaccardFromInter(inter, shingleSizes(capped))
      .filter(col("jaccard") >= floor)
      .select(org.apache.spark.sql.functions.floor(col("jaccard") * 10)
        .cast("int").as("band"))
      .groupBy("band").agg(count(lit(1)).as("n_pairs"))
  }

  /** MinHash signatures: k independent permutations approximated by seeded
    * xxhash64; the signature is the per-seed minimum over the doc's
    * shingles. One groupBy over the shingle table computes all k mins
    * (map-side partial aggregation keeps the shuffle at k longs per doc).
    */
  def minhashSignatures(sh: DataFrame, k: Int): DataFrame =
    sh.groupBy("sid").agg(
      array((0 until k).map(i => min(xxhash64(lit(i), col("shingle")))): _*).as("sig"))

  /** LSH banding: (sid, band_idx, band_hash) with `rowsPerBand` signature
    * rows hashed per band. More rows per band → higher precision, lower
    * recall; rowsPerBand=1 maximizes recall (used when an exact verify
    * step follows).
    */
  def lshBands(sig: DataFrame, rowsPerBand: Int): DataFrame =
    if (rowsPerBand == 1)
      // fast path: each signature row IS a band — no re-grouping shuffle
      sig.select(col("sid"), posexplode(col("sig")))
        .select(col("sid"), col("pos").as("band_idx"),
          xxhash64(col("pos"), col("col")).as("band_hash"))
    else
      sig.select(col("sid"), posexplode(col("sig")))
        .withColumn("band_idx", (col("pos") / rowsPerBand).cast("int"))
        .groupBy("sid", "band_idx")
        .agg(xxhash64(col("band_idx"), sort_array(collect_list(col("col")))).as("band_hash"))

  /** Candidate pairs: docs sharing any LSH band bucket. Self-join on the
    * band key — shuffle is on (band_idx, band_hash), never all-pairs.
    *
    * `maxBucketSize` is the web-scale skew guard: a degenerate bucket
    * (boilerplate/empty documents all landing on one band hash) turns
    * the self-join quadratic in that bucket's size — at 10⁹ docs one
    * million-member bucket is 10¹² pairs in a single task. When set,
    * buckets larger than the cap are DROPPED before the join (the
    * per-bucket count is one cheap aggregation on the band key). This
    * trades recall for boundedness exactly where LSH already carries no
    * signal: an over-full bucket's members collide on one band far
    * beyond chance, and near-dup pairs that frequent still share OTHER,
    * smaller buckets (numHashes/rowsPerBand independent chances).
    * Default None preserves exact candidate semantics — the oracle
    * queries prove recall 1.0 without the cap on this corpus.
    */
  def lshCandidates(bands: DataFrame, maxBucketSize: Option[Int] = None): DataFrame = {
    val bounded = maxBucketSize match {
      case Some(cap) =>
        require(cap >= 2, s"maxBucketSize must allow pairs: $cap")
        val sizes = bands.groupBy("band_idx", "band_hash")
          .agg(count(lit(1)).as("__bn"))
          .filter(col("__bn") <= cap)
          .select("band_idx", "band_hash")
        bands.join(sizes, Seq("band_idx", "band_hash"))
      case None => bands
    }
    val l = bounded.select(col("band_idx"), col("band_hash"), col("sid").as("a"))
    val r = bounded.select(col("band_idx"), col("band_hash"), col("sid").as("b"))
    l.join(r, Seq("band_idx", "band_hash")).filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** End-to-end MinHash-LSH near-dup detection: shingle → sign → band →
    * candidates → exact-Jaccard verify → threshold.
    */
  /** Shingle CONTAINMENT pairs: |A ∩ B| / |A| ≥ threshold — the
    * asymmetric near-dup measure (Broder's containment) that catches
    * "document A is a subset/quote of document B" where Jaccard stays
    * low because B is much larger. Emits BOTH directions when both
    * clear the threshold. Output: (a, b, containment) = fraction of a's
    * shingles also in b.
    *
    * Scale shape: identical to the exact-Jaccard verify — the
    * intersection joins are shingle-keyed (never all-pairs: only pairs
    * actually SHARING a shingle materialize), sizes are one doc-keyed
    * aggregate, and the containment division is per surviving pair. For
    * web-scale corpora gate the pair stream with [[lshCandidates]]
    * first, exactly like the Jaccard path.
    *
    * `maxShingleDf` is the hot-shingle skew guard, the analog of
    * [[lshCandidates]]' `maxBucketSize`: a single stop-shingle shared by
    * m documents yields m² join rows in one task, so at web scale one
    * boilerplate phrase turns the shingle-keyed join quadratic. When
    * set, shingles with document frequency above the cap are DROPPED
    * before the self-join (one cheap aggregation on the shingle key).
    * Containment then under-counts intersections that run through
    * dropped stop-shingles only — acceptable exactly where the guard
    * fires, because a shingle shared by thousands of documents carries
    * no containment signal. Default None preserves exact semantics (the
    * oracle query proves exactness without the cap on this corpus).
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, threshold: Double = 0.5,
      maxShingleDf: Option[Int] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    // 8-byte hashed shingle keys end-to-end (see [[hashedShingles]]):
    // identity-only uses, same isomorphism argument as thresholdSweep
    val shAll = hashedShingles(docs, idCol, textCol, shingleLen)
    // sizes come from the UNgated shingle table: |A| is a property of the
    // document, not of the guard
    val sizes = shingleSizes(shAll)
    val sh = maxShingleDf match {
      case Some(cap) =>
        require(cap >= 2, s"maxShingleDf must allow pairs: $cap")
        val rare = shAll.groupBy("hsh")
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= cap)
          .select("hsh")
        shAll.join(rare, "hsh")
      case None => shAll
    }
    val inter = sh.select(col("sid").as("a"), col("hsh"))
      .join(sh.select(col("sid").as("b"), col("hsh")), "hsh")
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("sid").as("a"), col("set_size").as("size_a")), "a")
      .withColumn("containment",
        col("n_inter").cast("double") / col("size_a"))
      .filter(col("containment") >= threshold)
      .select("a", "b", "containment")
  }

  def minhashNearDups(
      docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numHashes: Int = 32, rowsPerBand: Int = 1,
      threshold: Double = 0.7): DataFrame = {
    // The shingle table feeds four consumers (signatures + both verify
    // sides + sizes); its distinct-shuffle appears once per consumer in
    // the plan and Spark's ReuseExchange collapses the duplicates, so no
    // explicit materialization is needed (verified via graft.Explain).
    val sh = shingles(docs, idCol, textCol, shingleLen)
    val cands = lshCandidates(lshBands(minhashSignatures(sh, numHashes), rowsPerBand))
    jaccardVerify(cands, sh).filter(col("jaccard") >= threshold)
  }

  /** Single-pass MinHash-LSH near-dup detection (the scale path).
    *
    * Unlike [[minhashNearDups]] (relational formulation: explode →
    * distinct → k×min aggregation, several wide shuffles of the shingle
    * table), this shingles each document EXACTLY ONCE: the
    * [[org.apache.spark.sql.graft.MinHashFull]] expression emits both
    * the signature (→ LSH bands) and the sorted shingle-hash array
    * (→ per-pair exact-Jaccard merge) from one pass, and the compact
    * (sid, sig, sh) frame is materialized so the band explode and the
    * two verification join sides all read it instead of re-scanning
    * text. Shuffled data: (id, band) pairs, candidate id pairs, and the
    * ~|shingles|-long hash arrays of candidate-pair members only.
    *
    * Resource note: the checkpoint's blocks are reclaimed by Spark's
    * ContextCleaner once the returned frame (and its plan) become
    * unreachable — in long-lived sessions invoking this repeatedly,
    * drop the result reference when done (the bench harness additionally
    * runs System.gc() between queries for deterministic reclamation), or
    * pass a [[CheckpointScope]] and `release()` it after materializing
    * the result for deterministic block reclamation per invocation.
    */
  def minhashNearDupsFast(
      docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numHashes: Int = 16,
      threshold: Double = 0.7, maxBucketSize: Option[Int] = None,
      scope: Option[CheckpointScope] = None): DataFrame = {
    import graft.functions.TextFunctions.hash_jaccard
    val (bands, sigs) = minhashFrames(docs, idCol, textCol, shingleLen, numHashes, scope)
    // maxBucketSize passes through to the band join (see lshCandidates):
    // shingle-LESS documents (fewer tokens than shingleLen) all carry
    // the identical all-MaxValue signature, so ONE degenerate bucket per
    // band grows quadratic join output at corpus scale — their pairs are
    // Jaccard-0 and die in verification anyway, so the cap only removes
    // work, never near-dups (ScaleProbe measures the difference).
    val cands = ckpt(lshCandidates(bands, maxBucketSize), scope)
    // Verification ships only CANDIDATE MEMBERS' hash arrays. Without
    // this prune, once the sig frame outgrows the broadcast threshold
    // both verify joins sort-merge-shuffle EVERY document's sh array —
    // ScaleProbe measured the switch as a 587x shuffle-bytes jump at
    // 16x corpus. The member id set is candidate-scale (∝ near-dup
    // pairs); the MEASURED-byte broadcast decision (not an
    // unconditional hint — BroadcastPolicySpec's rule is that a hard
    // hint must never be able to OOM at 100x, and neither Catalyst
    // stats — the checkpoint keeps the origin's join-sized estimate —
    // nor AQE — both SMJ exchanges submit before member stats arrive,
    // PERF_NOTES §10 records exactly that race — gets this right on its
    // own) lives in pruneSigsToMembers. Above the bound the semi join
    // degrades to the linear shuffle join instead of a driver OOM.
    val hashed = pruneSigsToMembers(sigs,
      cands.select(col("a").as("sid")).union(cands.select(col("b").as("sid"))),
      scope)
    cands
      .join(hashed.select(col("sid").as("a"), col("sh").as("ha")), "a")
      .join(hashed.select(col("sid").as("b"), col("sh").as("hb")), "b")
      .withColumn("jaccard", hash_jaccard(col("ha"), col("hb")))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** The persistent-registry layout of a corpus's minhash state: one
    * `(sid, band_idx, band_hash)` frame (bucket the backing table by
    * `band_hash` — incoming batches then join it storage-partitioned)
    * and one `(sid, sh)` frame of sorted shingle hashes (bucket by
    * `sid`). One shingling pass total (minhash_full).
    */
  def minhashFrames(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numHashes: Int = 16,
      scope: Option[CheckpointScope] = None): (DataFrame, DataFrame) = {
    val base = ckpt(docs
      .select(col(idCol).as("sid"),
        org.apache.spark.sql.graft.TextHashExpressions
          .minhash_full(col(textCol), shingleLen, numHashes).as("m"))
      .select(col("sid"), col("m.sig").as("sig"), col("m.sh").as("sh")),
      scope)
    val bands = base
      .select(col("sid"), posexplode(col("sig")))
      .select(col("sid"), col("pos").as("band_idx"), col("col").as("band_hash"))
    (bands, base.select(col("sid"), col("sh")))
  }

  /** Materialize a (supposedly small) frame, MEASURE its bytes, and
    * attach the broadcast hint only within the bound. Needed because
    * neither Catalyst stats nor AQE can make this call for the dedup
    * loop's derived frames: localCheckpoint keeps the ORIGIN's
    * join-sized estimate, and AQE submits both SMJ exchanges together,
    * so the registry-side shuffle is already written before runtime
    * stats exist (PERF_NOTES §10 records exactly that race). Bytes, not
    * rows: ids can be wide (URLs), and the whole point of the measured
    * guard is that the hint can NEVER build an over-sized driver
    * relation — above the bound the caller's join degrades to the
    * linear shuffle, not an OOM (BroadcastPolicySpec's rule).
    */
  /** localCheckpoint through the caller's [[CheckpointScope]] when one
    * was passed (deterministic release), plain eager checkpoint (RDD-GC
    * reclamation) otherwise.
    */
  private def ckpt(df: DataFrame, scope: Option[CheckpointScope]): DataFrame =
    scope match {
      case Some(s) => s.checkpoint(df)
      case None => df.localCheckpoint(true)
    }

  private def measuredBroadcast(df0: DataFrame,
      maxBytes: Long = 64L * 1024 * 1024,
      scope: Option[CheckpointScope] = None): DataFrame = {
    import org.apache.spark.sql.types._
    // operational override (also how probes rehearse the degraded
    // no-hint regime): bound in bytes; <= 0 refuses every hint
    val bound = df0.sparkSession.conf
      .getOption("spark.sql.graft.measuredBroadcastMaxBytes")
      .map(_.toLong).getOrElse(maxBytes)
    val df = ckpt(df0, scope)
    if (bound <= 0) return df
    // The eager checkpoint above JUST materialized the frame, so its
    // block sizes already sit in the driver's storage registry — measure
    // THERE instead of running a byte-sum aggregate per probe. The probes
    // were the cost: incrementalMinhash runs 5-6 of them per batch, each
    // a full plan+schedule+collect round-trip for one number the driver
    // already holds (StageProbe: the query is job-count-bound). Storage
    // memSize counts materialized UnsafeRow bytes + object overhead, an
    // UPPER bound on data bytes, so the guard only gets more
    // conservative — it can refuse a borderline hint, never admit an
    // over-sized one (BroadcastPolicySpec's rule is exactly that
    // direction). It also measures ANY schema (the old per-column width
    // sum refused arrays/maps/structs outright), so the aggregate
    // fallback below survives only for frames the registry cannot see.
    storageBytes(df) match {
      case Some(bytes) => if (bytes <= bound) broadcast(df) else df
      case None =>
        // registry miss (foreign frame, blocks evicted): fall back to
        // the schema-bounded byte-sum aggregate. Measurable widths only:
        // strings/binary by octet_length (NULL coalesced to 0), fixed
        // primitives at 8; a column this cannot measure refuses the hint
        // outright — guessing would let a wide frame under the bound and
        // build exactly the over-sized driver relation the guard exists
        // to prevent.
        val widths = df.schema.fields.map { f =>
          f.dataType match {
            case StringType | BinaryType =>
              Some(coalesce(octet_length(col(f.name)).cast("long"), lit(0L)))
            case _: NumericType | BooleanType | DateType | TimestampType |
                 TimestampNTZType => Some(lit(8L))
            case _ => None
          }
        }
        if (widths.exists(_.isEmpty)) return df
        val bytes = df.agg(
          coalesce(sum(widths.flatten.reduce(_ + _)), lit(0L))).head.getLong(0)
        if (bytes <= bound) broadcast(df) else df
    }
  }

  /** Materialized size of a (local)checkpointed frame from the driver's
    * storage registry — memory + disk bytes of its cached blocks, no job.
    * None unless every leaf of the plan is a checkpoint scan (a mixed
    * plan would undercount) or when its blocks are not (yet) registered.
    */
  private[graft] def storageBytes(df: DataFrame): Option[Long] = {
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val ids = leaves.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
    if (ids.isEmpty || ids.length != leaves.length) return None
    val infos = df.sparkSession.sparkContext.getRDDStorageInfo
      .filter(i => ids.contains(i.id))
    if (infos.length != ids.length) None
    else Some(infos.map(i => i.memSize + i.diskSize).sum)
  }

  /** Semi-join prune of a `(sid, sh)` frame to the given member ids —
    * the candidate-members verify prune, via [[measuredBroadcast]].
    */
  private def pruneSigsToMembers(sigs: DataFrame, members0: DataFrame,
      scope: Option[CheckpointScope] = None): DataFrame =
    sigs.join(measuredBroadcast(members0.distinct(), scope = scope),
      Seq("sid"), "left_semi")

  /** Incremental MinHash-LSH near-dup detection — the production ingest
    * loop for NEAR duplicates, the fuzzy complement of
    * [[incrementalDedup]]: a persistent signature REGISTRY (the
    * [[minhashFrames]] layout, normally two bucketed store tables — and
    * built with the SAME `shingleLen`/`numHashes` as every probe; a
    * mismatch makes band hashes disjoint and silently loses all
    * cross-history recall, so the more-hashes direction is sanity-checked
    * against a bounded registry sample)
    * deduplicates each incoming batch against all history without
    * rescanning or re-shingling the historical corpus.
    *
    * Returns `(pairs, newBands, newSigs)`:
    *  - `pairs`: UNORDERED near-dup pairs `(a, b, jaccard)` with
    *    `a < b`, exact-Jaccard verified at `threshold`, where at least
    *    one side is a batch document (batch-vs-history and
    *    batch-internal, each pair once). For an id present in BOTH
    *    history and batch, the BATCH's text governs its pairs: the
    *    stale registry rows of re-ingested ids are excluded from the
    *    probe (pairing one doc id under two different texts would emit
    *    the same pair twice with conflicting scores).
    *  - `newBands` / `newSigs`: the registry rows of the batch docs NOT
    *    already registered — append them AFTER committing the batch
    *    (materialize `pairs` first, same contract as
    *    [[incrementalDedup]]). Re-ingested ids are FIRST-WINS in the
    *    registry, like incrementalDedup's content hashes; replacing a
    *    changed document's signature is a registry DELETE + next-batch
    *    re-ingest, not an append.
    *
    * `maxBucketSize` is the degenerate-bucket guard of
    * [[lshCandidates]], applied to BOTH candidate paths — without it a
    * signature class like the shingle-less all-MaxValue docs matches
    * every historical member of its band bucket on every batch
    * (O(batch_degenerates × history_degenerates) candidate rows that
    * all die in verification). The registry side counts only the PROBED
    * band keys, so the guard itself stays per-batch cost.
    *
    * Scale shape: per-batch cost only. Batch docs shingle once
    * (minhash_full); the candidate join shuffles the BATCH's (band, id)
    * pairs onto the registry's band_hash bucketing (storage-partitioned
    * on the registry side — history never moves); the registry verify
    * side ships hash arrays for candidate members only
    * ([[pruneSigsToMembers]] — the measured-broadcast semi join).
    * For the storage-partitioned shape to hold WITHOUT the broadcast
    * hints, pass the registry frames as CATALOG reads
    * (`spark.table("graft.x")` / `GraftSession.table`) of tables
    * bucketed by `band_hash` / `sid` with bucket count >= shuffle
    * partitions — only catalog-resolved scans report the bucket
    * partitioning, and Spark prefers the higher-partition-count side
    * when choosing which side to shuffle (PERF_NOTES §13).
    *
    * Resource note: the call eagerly localCheckpoints several
    * intermediates that back the returned frames. In a long-running
    * ingest loop pass `scope = Some(new CheckpointScope)` and
    * `scope.release()` after materializing `pairs` and appending
    * `newBands`/`newSigs`, so each batch's blocks free deterministically
    * instead of waiting for RDD GC ([[CheckpointScope]]).
    */
  def incrementalMinhash(batch: DataFrame, idCol: String, textCol: String,
      registryBands: DataFrame, registrySigs: DataFrame,
      shingleLen: Int = 3, numHashes: Int = 16,
      threshold: Double = 0.7,
      maxBucketSize: Option[Int] = None,
      scope: Option[CheckpointScope] = None): (DataFrame, DataFrame, DataFrame) = {
    import graft.functions.TextFunctions.hash_jaccard
    // bounded-cost param sanity (the detectable direction): a registry
    // built with MORE hashes spreads band_idx past numHashes-1, and any
    // 100k-posting sample of such a registry contains one
    val sampledMax = registryBands.select("band_idx").limit(100000)
      .agg(coalesce(max(col("band_idx")), lit(-1)).cast("int")).head.getInt(0)
    require(sampledMax < numHashes,
      s"incrementalMinhash: registry has band_idx $sampledMax — it was built " +
        s"with more than numHashes=$numHashes hashes; probe with the " +
        "registry's own (shingleLen, numHashes)")
    val (bands, sigs) = minhashFrames(batch, idCol, textCol, shingleLen, numHashes, scope)
    // batch-internal candidates (a < b within the batch; cap inside)
    val intra = ckpt(lshCandidates(bands, maxBucketSize), scope)
    // batch-vs-history candidates, with the cap applied to both sides
    // Every registry-side join below keeps the REGISTRY streaming and
    // ships only batch-scale frames ([[measuredBroadcast]]): the
    // registry is the O(history) side and must never shuffle per batch.
    // (With store-table registries the band joins are additionally
    // storage-partitioned; the measured hints make the shape hold for
    // ANY DataFrame registry — ScaleProbe's arm pins flat per-batch
    // cost across a 16x registry sweep.)
    val batchIds = measuredBroadcast(sigs.select("sid"), scope = scope)
    val (probeBands, probedRegBands) = maxBucketSize match {
      case Some(cap) =>
        require(cap >= 2, s"maxBucketSize must allow pairs: $cap")
        val okBatch = bands.groupBy("band_idx", "band_hash")
          .agg(count(lit(1)).as("__bn")).filter(col("__bn") <= cap)
          .select("band_idx", "band_hash")
        // checkpoint once: both the probed-key set and the cross probe
        // side derive from it (re-deriving would re-run the gate join
        // per consumer)
        val gated = ckpt(bands.join(okBatch, Seq("band_idx", "band_hash")),
          scope)
        val probedKeys = measuredBroadcast(
          gated.select("band_idx", "band_hash").distinct(), scope = scope)
        // count LIVE registry members per probed bucket: stale rows of
        // re-ingested batch ids leave first (anti vs the broadcast batch
        // id set — the registry keeps streaming), or a bucket sitting at
        // the cap with stale rows would drop real pairs
        val okReg = registryBands
          .join(probedKeys, Seq("band_idx", "band_hash"), "left_semi")
          .join(batchIds, Seq("sid"), "left_anti")
          .groupBy("band_idx", "band_hash")
          .agg(count(lit(1)).as("__rn")).filter(col("__rn") <= cap)
          .select("band_idx", "band_hash")
        (gated, registryBands.join(measuredBroadcast(okReg, scope = scope),
          Seq("band_idx", "band_hash")))
      case None => (bands, registryBands)
    }
    // Batch text governs for re-ingested ids: their STALE registry rows
    // must not pair (one doc id under two texts would emit the same
    // pair twice with conflicting scores). The exclusion runs at
    // CANDIDATE scale — an anti join against the registry frames
    // themselves would shuffle the whole bands registry per batch
    // (it is bucketed by band_hash, not by sid).
    val cross = ckpt(probedRegBands
      .select(col("band_idx"), col("band_hash"), col("sid").as("a"))
      .join(measuredBroadcast(
          probeBands.select(col("band_idx"), col("band_hash"), col("sid").as("b")),
          scope = scope),
        Seq("band_idx", "band_hash"))
      .select("a", "b").distinct()
      .join(batchIds.select(col("sid").as("a")), Seq("a"), "left_anti"),
      scope)
    def verify(cands: DataFrame, aSide: DataFrame): DataFrame = cands
      .join(aSide.select(col("sid").as("a"), col("sh").as("ha")), "a")
      .join(sigs.select(col("sid").as("b"), col("sh").as("hb")), "b")
      .withColumn("jaccard", hash_jaccard(col("ha"), col("hb")))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
    // cross already excludes batch ids, so the member semi-join also
    // keeps stale re-ingested signatures out of verification
    val regVerifySide =
      pruneSigsToMembers(registrySigs, cross.select(col("a").as("sid")), scope)
    // normalize to unordered (least, greatest) pairs; the union stays
    // disjoint (cross pairs have exactly one registry side, intra none)
    val pairs = verify(cross, regVerifySide).unionByName(verify(intra, sigs))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"), col("jaccard"))
      .distinct()
    // already-registered ids, computed REGISTRY-STREAMING: the registry
    // id column semi-joins the broadcast batch id set (output is
    // batch-scale), and the batch frames then anti-join the broadcast of
    // THAT — a direct anti join against registrySigs would shuffle (or
    // driver-collect) all history ids per batch on the append path
    val registered = measuredBroadcast(
      registrySigs.select("sid").join(batchIds, Seq("sid"), "left_semi"),
      scope = scope)
    val newSigs = sigs.join(registered, Seq("sid"), "left_anti")
    val newBands = bands.join(registered, Seq("sid"), "left_anti")
    (pairs, newBands, newSigs)
  }

  /** Embedding-cosine near-dup pairs over an `array<float>` column.
    *
    * `lshBits > 0`: signed-random-projection bucketing (multi-table) —
    * only pairs sharing a signature bucket in some table are scored, then
    * exact-cosine verified. Cost ∝ bucket sizes, never all-pairs — but it
    * is a HIGH-threshold tool: SRP bit-collision probability is
    * 1 - angle/π, so at cosine ≥ 0.9 (angle ≤ 26°, p ≈ 0.86) a handful of
    * tables reaches recall ≈ 1, while near cosine 0.35 (angle 70°,
    * p ≈ 0.61, vs 0.5 for random pairs) NO (bits, tables) setting
    * separates matches from noise — recall 1 there forces candidate rate 1.
    *
    * `lshBits = 0`: EXACT threshold join via block-partitioned pair
    * generation. Rows are hashed into `blocks` groups; each of the
    * B(B+1)/2 block pairs becomes one equi-join key, so the quadratic
    * scoring work distributes evenly across B²/2 tasks with each side
    * shuffled at most B× — no BroadcastNestedLoopJoin, no driver-side
    * product, per-task memory ∝ |block|. The right choice when the
    * threshold sits in the near-random regime (like 0.35 in 64 dims)
    * where exact sub-quadratic methods do not exist.
    */
  def embeddingNearDups(
      vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, lshBits: Int = 0, lshTables: Int = 4,
      blocks: Int = 16): DataFrame = {
    import graft.functions.VectorExpressions.vec_cosine
    val base = vecs.select(col(idCol).as("vid"), col(vecCol).as("vec"))
    val pairs =
      if (lshBits <= 0) {
        val spark = vecs.sparkSession
        import spark.implicits._
        val blockPairs = (for { g1 <- 0 until blocks; g2 <- g1 until blocks }
          yield (g1, g2)).toDF("g1", "g2")
        val withBlock = base
          .withColumn("g", pmod(xxhash64(col("vid")), lit(blocks)).cast("int"))
        val l = withBlock
          .select(col("g").as("g1"), col("vid").as("a"), col("vec").as("va"))
          .join(broadcast(blockPairs), "g1")
        val r = withBlock
          .select(col("g").as("g2"), col("vid").as("b"), col("vec").as("vb"))
          .join(broadcast(blockPairs), "g2")
        // same-block pairs dedup by id order; cross-block pairs appear
        // exactly once (blocks are disjoint) and are canonicalized below
        l.join(r, Seq("g1", "g2"))
          .filter(col("g1") =!= col("g2") || col("a") < col("b"))
      } else {
        val bucketed = Similarity.withSignatures(base, "vec", lshBits, lshTables)
        val l = bucketed.select(col("table_idx"), col("sig"),
          col("vid").as("a"), col("vec").as("va"))
        val r = bucketed.select(col("table_idx"), col("sig"),
          col("vid").as("b"), col("vec").as("vb"))
        l.join(r, Seq("table_idx", "sig")).filter(col("a") < col("b"))
          .select("a", "va", "b", "vb").distinct()
      }
    pairs
      .withColumn("cosine", vec_cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"), col("cosine"))
  }

  /** Resolve near-dup PAIRS into duplicate CLUSTERS: connected components
    * by iterative min-label propagation, the canonical "which docs are
    * the same document" step after any pairwise dedup. Output:
    * (doc_id, cluster_id) for every doc appearing in a pair, cluster_id =
    * min doc id of the component (the kept representative).
    *
    * Scale shape: each round is one shuffle join of (edges ⋈ labels) +
    * a min-aggregation — label propagation converges in O(component
    * diameter) rounds (dup clusters are near-cliques, so typically 2-3);
    * lineage is cut per round. No driver-side graph, no all-pairs step.
    */
  def dupClusters(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
      .localCheckpoint(true)
    // Round 1 folded into initialization: with labels(id) = id, the first
    // propagation is labels₁(id) = min({id} ∪ neighbors(id)) — ONE
    // aggregate straight off the edge list (edges are symmetric, so every
    // member appears as dst). This replaces the init distinct + checkpoint
    // + the first round's join with a single union+agg pass; `old = id`
    // keeps the convergence check exact (near-clique dup graphs often
    // converge HERE, paying one aggregate total).
    var labelsCkpt = edges.select(col("dst").as("id"), col("src").as("label"))
      .union(edges.select(col("src").as("id"), col("src").as("label")))
      .groupBy(col("id")).agg(min(col("label")).as("label"))
      .select(col("id"), col("id").as("old"), col("label"))
      .localCheckpoint(true)
    var labels = labelsCkpt.select("id", "label")
    var converged = labelsCkpt.filter(col("label") =!= col("old")).isEmpty
    var it = 1
    while (!converged && it < maxIters) {
      val neighborMin = edges.join(labels, edges("src") === labels("id"))
        .groupBy(col("dst").as("id2")).agg(min(col("label")).as("nmin"))
      // carry the previous label alongside the new one, so the
      // convergence check is a cheap scan of the checkpointed frame
      // instead of a second join per round
      val next = labels.join(neighborMin, col("id") === col("id2"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        .localCheckpoint(true)
      converged = next.filter(col("label") =!= col("old")).isEmpty
      // the superseded round's blocks are fully consumed (next is eager):
      // free them now instead of accumulating one frame per round
      CheckpointScope.unpersist(labelsCkpt)
      labelsCkpt = next
      labels = next.select("id", "label")
      it += 1
    }
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Canonical-representative selection: for each duplicate cluster,
    * keep the "best" member (longest document, ties broken by lowest
    * id) and report the cluster's size and total length — the keep/drop
    * decision step that follows near-dup clustering in a curation
    * pipeline (drop everything whose `doc_id != canonical_doc`).
    *
    * Scale shape: one equi-join of the cluster labels onto the corpus
    * (both sides keyed by doc id) and ONE hash aggregate keyed by
    * cluster id. The representative is picked inside the aggregate via
    * `min(struct(-len, id))` — no window, no second shuffle, map-side
    * combinable.
    */
  def canonicalDocs(clusters: DataFrame, docs: DataFrame,
                    idCol: String, lenCol: String): DataFrame =
    clusters
      .join(docs.select(col(idCol).as("doc_id"), col(lenCol).as("len")), "doc_id")
      .groupBy(col("cluster_id"))
      .agg(
        min(struct((-col("len")).as("neg_len"), col("doc_id").as("d")))
          .getField("d").as("canonical_doc"),
        count(lit(1)).as("n_members"),
        sum(col("len")).as("total_len"))

  /** Engine-portable 60-bit token hash: the first 15 hex chars of md5,
    * parsed as a long. DuckDB computes the identical value
    * (`CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)`), so simhash
    * signatures built on it are byte-identical across engines — that is
    * what upgrades the simhash query from rows-only to a hash-checked
    * oracle. ~3× slower per token than xxhash64; use the default
    * xxhash64 when cross-engine parity is not needed.
    */
  def md5Hash60(c: Column): Column =
    org.apache.spark.sql.graft.TextHashExpressions.md5_prefix_long(c, 15)

  /** SimHash signature per doc, computed entirely inside the scan
    * projection by the codegen'd
    * [[org.apache.spark.sql.graft.SimHashSig]] expression — a signature
    * is a pure per-row function of the token stream, so nothing needs to
    * shuffle. `md5Portable = true` uses the md5-derived 60-bit token hash
    * a SQL oracle can replay; `false` uses xxhash64 (bit-identical to
    * the relational variant's `xxhash64(tok)` default — same seed 42).
    * Replaces two shuffles of [[simhashSignatures]] (the (doc, token)
    * pre-aggregation and the 60-conditional-sum per-doc aggregate);
    * measured 1.5× on the full q_dedup_simhash at sf0.1, where the
    * banded self-join is the other half of the cost.
    */
  def simhashSignaturesFast(docs: DataFrame, idCol: String, textCol: String,
      sigBits: Int = 64, md5Portable: Boolean = false): DataFrame =
    // NULL-text docs are dropped, matching the relational formulation
    // (explode of null emits no token rows, so the doc never aggregates)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("sid"),
        org.apache.spark.sql.graft.TextHashExpressions.simhash_sig_expr(
          split(col(textCol), "\\s+"), sigBits, md5Portable).as("simhash"))

  /** SimHash signature per doc from its token stream: per bit, sum +1/-1
    * weighted by token-hash bit, take the sign. Computed with plain
    * codegen'd aggregates (`sigBits` conditional sums), no UDF. Kept as
    * the reference relational formulation (and for custom `tokenHash`
    * lambdas); the query path uses [[simhashSignaturesFast]].
    *
    * `tokenHash` defaults to xxhash64 (fast path); pass [[md5Hash60]]
    * with `sigBits = 60` for the engine-portable variant.
    */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      tokenHash: Column => Column = xxhash64(_), sigBits: Int = 64): DataFrame = {
    // pre-aggregate to (doc, token, count) so the token hash — md5 in the
    // engine-portable variant, the dominant per-row cost — is computed
    // once per DISTINCT token of a doc, and the sigBits conditional sums
    // consume the smaller weighted stream (identical totals: a token seen
    // k times contributes ±k per bit either way)
    val toks = docs.select(col(idCol).as("sid"),
      explode(split(col(textCol), "\\s+")).as("tok"))
      .groupBy("sid", "tok").agg(count(lit(1)).as("cnt"))
      .withColumn("h", tokenHash(col("tok")))
    val bitCols = (0 until sigBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, col("cnt"))
        .otherwise(-col("cnt"))).as(s"b$b")
    }
    val bitSums = toks.groupBy("sid").agg(bitCols.head, bitCols.tail: _*)
    bitSums.select(col("sid"),
      (0 until sigBits).map(b =>
        when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(0L))
        .reduce((a, b) => a.bitwiseOR(b)).as("simhash"))
  }

  /** SimHash near-dup pairs: candidates share one of `numChunks` chunks of
    * `sigBits / numChunks` bits (pigeonhole: hamming < numChunks ⇒ some
    * chunk identical — recall 1 requires maxHamming ≤ numChunks - 1),
    * verified by exact hamming distance ≤ maxHamming.
    *
    * Chunk-width trade-off at scale: the default 4×16-bit chunks keep
    * buckets tiny on web-scale corpora but only guarantee recall for
    * hamming ≤ 3; a larger `maxHamming` needs `numChunks > maxHamming`,
    * whose narrower chunks collide more — acceptable for corpus slices,
    * wrong as the single index over 10¹¹ documents (there, raise sigBits
    * instead so chunks stay wide).
    */
  /** `pinShuffleJoin = true` pins the banded self-join to SHUFFLE_MERGE.
    * The chunk table is corpus × combos rows, but Catalyst cannot see
    * that: the checkpointed sig frame reports a tiny estimate and an
    * explode's fan-out is unknowable from stats, so the planner
    * broadcasts one full exploded side — at 10× bench corpus that is a
    * 2.25M-row single-threaded driver build (44 s measured,
    * PERF_NOTES §50) and at real scale an OOM. The shuffle join
    * reuses ONE exchange for both sides and spills gracefully. Callers
    * gate it on the actual chunk-row count (sig count × combos), so at
    * small scale the (genuinely cheaper) broadcast stays.
    */
  def simhashNearDups(sig: DataFrame, maxHamming: Int = 3,
      numChunks: Int = 4, sigBits: Int = 64, comboSize: Int = 1,
      maxBucketSize: Option[Int] = None,
      pinShuffleJoin: Boolean = false): DataFrame = {
    require(maxHamming <= numChunks - comboSize,
      s"pigeonhole recall guarantee needs maxHamming <= numChunks - comboSize, " +
        s"got $maxHamming/$numChunks/$comboSize")
    val width = sigBits / numChunks
    val mask = (1L << width) - 1
    def chunk(c: Int): Column =
      shiftright(col("simhash"), c * width).bitwiseAND(mask)
    // pigeonhole generalized to chunk COMBOS: maxHamming errors across
    // numChunks chunks leave >= numChunks - maxHamming chunks clean, so
    // every true pair shares some comboSize-subset of clean chunks.
    // comboSize > 1 multiplies the bucket-key width by comboSize — with
    // 6-bit chunks, pairs turn 64 buckets into 4096, shrinking candidate
    // volume ~(2^width)x per extra chunk at the cost of C(n,k)/n more
    // exploded rows. The bucket key packs (combo index, chunk values)
    // into ONE long, so the shuffle carries no struct overhead.
    val combos = (0 until numChunks).combinations(comboSize).toSeq
    val keyCols = combos.zipWithIndex.map { case (ps, idx) =>
      ps.foldLeft(lit(idx.toLong): Column)((acc, p) =>
        shiftleft(acc, width).bitwiseOR(chunk(p)))
    }
    val chunksAll = sig.select(col("sid"), col("simhash"),
      explode(array(keyCols: _*)).as("bk"))
    // same web-scale skew guard as lshCandidates: drop degenerate
    // buckets before the quadratic self-join (see its scaladoc)
    val chunks = maxBucketSize match {
      case Some(cap) =>
        require(cap >= 2, s"maxBucketSize must allow pairs: $cap")
        val sizes = chunksAll.groupBy("bk").agg(count(lit(1)).as("__bn"))
          .filter(col("__bn") <= cap).select("bk")
        chunksAll.join(sizes, "bk")
      case None => chunksAll
    }
    val l0 = chunks.select(col("bk"), col("sid").as("a"), col("simhash").as("sim_a"))
    val l = if (pinShuffleJoin) l0.hint("shuffle_merge") else l0
    val r = chunks.select(col("bk"), col("sid").as("b"), col("simhash").as("sim_b"))
    // hamming-filter BEFORE the distinct: the raw candidate stream is
    // codegen-filterable in the join's output pipeline — deduplicate
    // only the few surviving pairs, never the full candidate set
    l.join(r, Seq("bk")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Benchmark decontamination — the standard eval-set hygiene pass for
    * pre-training corpora (as published for GPT-3 §C / PaLM / Llama):
    * a training document is CONTAMINATED when it shares any full word
    * `n`-gram with any benchmark document. Returns the distinct
    * contaminated train ids (the drop list).
    *
    * Plan shape: both sides expand to word n-grams inside their scan
    * (same `sequence`/`slice` fan-out as [[shingles]], no UDF), then a
    * LEFT SEMI join on the gram keeps the first match per train gram, and
    * the final distinct reduces to the id column only. The benchmark side
    * is an eval set — constant-size relative to the corpus — so AQE picks
    * a broadcast semi-join at scale and the train grams are filtered
    * INSIDE their scan tasks: nothing shuffles except the surviving
    * contaminated ids. No hard broadcast hint: if the bench side ever
    * outgrows the threshold, the plan degrades to a bounded-key
    * (gram-keyed) shuffle join instead of an OOM — pre-hash the grams
    * (md5Hash60) if that shuffle's key width ever matters.
    *
    * Documents with fewer than `n` tokens produce no grams and cannot be
    * contaminated — the conventional semantics (short docs are handled by
    * the exact-dedup pass, not n-gram overlap).
    */
  def ngramContamination(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    def grams(df: DataFrame): DataFrame = {
      val toks = split(lower(trim(col(textCol))), "\\s+")
      df.select(col(idCol), toks.as("__toks"))
        .filter(size(col("__toks")) >= n)
        .select(col(idCol), explode(
          transform(sequence(lit(0), size(col("__toks")) - n),
            s => array_join(slice(col("__toks"), s + 1, lit(n)), " ")))
          .as("__g"))
    }
    grams(train)
      .join(grams(bench).select(col("__g")).distinct(), Seq("__g"), "left_semi")
      .select(col(idCol)).distinct()
  }
}
