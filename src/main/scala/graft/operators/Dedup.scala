package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite for the LLM-data-pipeline surface (BASELINE north
  * star): exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine.
  *
  * Scale posture: every variant reduces the pairwise O(n²) problem to
  * "explode → shuffle on a blocking key → join within block":
  *  - exact: hash-groupBy on content (one shuffle);
  *  - n-gram Jaccard: block on shared shingle (inverted index join);
  *  - MinHash LSH: block on (band, band-signature) — candidate count is
  *    tunable via bands×rows, independent of corpus size;
  *  - SimHash: block on 16-bit signature chunks (Hamming ≤ 3 of 4 chunks
  *    guarantees a shared chunk — pigeonhole);
  *  - embedding: block on a coarse partition (label / IVF cell).
  * Hot blocks (a shingle appearing in millions of docs) are the classic
  * skew hazard — `maxBlock` caps them (drop stop-shingles), the same
  * trick production dedup pipelines use.
  */
object Dedup {

  /** Exact dedup: keep the first row per duplicate group in `tieBreaks`
    * ascending order (pass a unique tuple for determinism). One shuffle
    * on the content columns. */
  def exact(df: DataFrame, contentCols: Seq[String], tieBreaks: Seq[String]): DataFrame = {
    val w = Window.partitionBy(contentCols.map(col): _*)
      .orderBy(tieBreaks.map(col(_).asc): _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Token-level n-gram shingles (distinct), space-joined. Empty when the
    * doc has fewer than n tokens. */
  def shingles(text: Column, n: Int): Column = {
    val t = split(text, " ", -1)
    when(size(t) >= n,
      array_distinct(transform(sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws(" ", slice(t, i, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Capped posting lists: one row per shingle fingerprint with the
    * sorted list of doc ids containing it; shingles in more than
    * `maxBlock` docs dropped (stop-shingles) to bound the quadratic
    * blowup of within-block pair generation.
    *
    * This is the single-shuffle form of the inverted index: the raw
    * (id, shingle) explosion is grouped by shingle ONCE, and the
    * stop-shingle cap becomes a free `size(_ids) <= maxBlock` filter on
    * the grouped row — no separate hot-list aggregation, no anti-join,
    * and downstream consumers re-derive the flat (id, shingle) view with
    * a map-side explode of the persisted lists instead of shuffling the
    * index again.
    *
    * Shingles are carried as xxhash64 fingerprints, not strings: 8-byte
    * keys shuffle/compare ~2× faster than ~20-byte strings (measured at
    * sf0.1). Jaccard over fingerprints equals Jaccard over strings unless
    * two distinct shingles of the same doc pair collide in 64 bits
    * (p ≈ m²/2⁶⁴ — negligible at any per-doc shingle count). */
  private def postingLists(docs: DataFrame, idCol: String, textCol: String,
                           n: Int, maxBlock: Long): DataFrame = {
    // spread before the tokenize+shingle+hash work (guide §2.2): a
    // single-row-group scan otherwise runs the whole shingling stage on
    // one core. Hash-by-id: deterministic, no pre-shuffle sort, and the
    // exchange only exists when the scan is under-partitioned.
    val lists = graft.Tables
      .spread(docs.select(col(idCol).as("_id"), col(textCol).as("_txt")),
        col("_id"))
      .select(col("_id"), explode(shingles(col("_txt"), n)).as("_sh"))
      .select(col("_id"), xxhash64(col("_sh")).as("_sh"))
      .groupBy(col("_sh"))
      .agg(sort_array(collect_list(col("_id"))).as("_ids"))
    if (maxBlock <= 0) lists else lists.filter(size(col("_ids")) <= maxBlock)
  }

  /** Flat capped inverted index (id, shingle) — a map-side explode of the
    * (persisted) posting lists. */
  private def explodeIndex(lists: DataFrame): DataFrame =
    lists.select(col("_sh"), explode(col("_ids")).as("_id"))

  /** Flat UNcapped (id, shingle-fingerprint) index, derived map-side with
    * NO shuffle: per-doc distinct shingles explode straight off the scan.
    * The capped variant must go through [[postingLists]] (the cap is a
    * property of a shingle's corpus-wide doc frequency, which needs the
    * groupBy); with maxBlock ≤ 0 the groupBy → collect → explode
    * round-trip is an identity on this multiset, so uncapped flows take
    * this path and skip a full-corpus shuffle. */
  private def flatIndex(docs: DataFrame, idCol: String, textCol: String,
                        n: Int): DataFrame =
    // same spread rationale as [[postingLists]] — the shingle explode is
    // the expensive map work this index pins to one core on a
    // single-split scan
    graft.Tables
      .spread(docs.select(col(idCol).as("_id"), col(textCol).as("_txt")),
        col("_id"))
      .select(col("_id"), explode(shingles(col("_txt"), n)).as("_sh"))
      .select(col("_id"), xxhash64(col("_sh")).as("_sh"))

  /** Persisted flat (id, shingle) index: capped via posting lists when
    * maxBlock > 0, map-side [[flatIndex]] otherwise.
    *
    * Cache lifetime: the pair operators RETURN lazy plans that read this
    * persisted intermediate, so it cannot be unpersisted here — the
    * blocks live until the caller drops them. The driver flows
    * (Bench/Verify) clearCache() between queries; a long-lived session
    * composing many dedup calls should do the same, or route through
    * the artifact paths (pairTable/bandedTable/refreshArtifacts), whose
    * actions complete internally and release their caches. */
  private def buildIdx(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, maxBlock: Long): DataFrame =
    if (maxBlock <= 0)
      flatIndex(docs, idCol, textCol, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else explodeIndex(
      postingLists(docs, idCol, textCol, n, maxBlock)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Shared-shingle counts per ordered doc pair, generated from posting
    * lists: each list of length m yields its m(m−1)/2 ordered pairs via
    * nested explode (position + suffix slice — the pair stream is
    * pipelined, never materialized per row), then one partial-aggregated
    * count per pair. Sorted lists make id_a < id_b structural. */
  private def pairIntersections(lists: DataFrame): DataFrame =
    lists
      .select(col("_ids"), posexplode(col("_ids")).as(Seq("_i", "id_a")))
      .select(col("id_a"),
        explode(slice(col("_ids"), col("_i") + lit(2), size(col("_ids"))))
          .as("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("_inter"))

  /** n-gram Jaccard near-duplicate pairs: docs sharing ≥1 shingle are
    * candidates; exact Jaccard = |A∩B| / (|A|+|B|−|A∩B|) over distinct
    * shingle sets; keep pairs ≥ threshold. Output: (id_a, id_b, jaccard)
    * with id_a < id_b, jaccard rounded to 6 dp.
    *
    * `maxBlock > 0` drops stop-shingles (doc frequency > maxBlock) from
    * the shingle UNIVERSE — both the pair generation and the Jaccard
    * sets. Self-consistent "informative-shingle" similarity: blocking and
    * scoring agree, and without the cap one hot shingle ("of the and" in
    * 10⁶ docs) makes within-block pair generation quadratic.
    *
    * Dataflow: ONE shuffle builds the capped posting lists; pair counts
    * and per-doc set sizes both derive from the persisted lists map-side
    * (the former via [[pairIntersections]], the latter via explode +
    * count) — the former self-join formulation shuffled the exploded
    * index twice more. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double,
                        maxBlock: Long = 0): DataFrame = {
    val lists = postingLists(docs, idCol, textCol, n, maxBlock)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = explodeIndex(lists)
      .groupBy(col("_id")).agg(count(lit(1)).as("_n"))
    pairIntersections(lists)
      .join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("_n", "_na"), "id_a")
      .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("_n", "_nb"), "id_b")
      .withColumn("jaccard", round(
        col("_inter").cast("double") /
          (col("_na") + col("_nb") - col("_inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** DIRECTED containment pairs: |A∩B| / |A| ≥ threshold — the
    * asymmetric near-dup signal symmetric Jaccard misses: a short doc
    * quoted whole inside a much longer one has Jaccard ≈ |A|/|B| (tiny)
    * but containment(A→B) ≈ 1. The training-mix use is "drop the
    * contained quote, keep the container". Same single-shuffle capped
    * posting-list machinery as [[ngramJaccardPairs]] (shared candidate
    * stream, shared distinct-shingle sizes); each undirected candidate
    * expands map-side into its two directed rows before the threshold
    * filter, so the extra direction costs no extra shuffle. Output:
    * (src, dst, containment) — src is the (mostly-)contained doc. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double,
                       maxBlock: Long = 0): DataFrame = {
    val lists = postingLists(docs, idCol, textCol, n, maxBlock)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = explodeIndex(lists)
      .groupBy(col("_id")).agg(count(lit(1)).as("_n"))
    pairIntersections(lists)
      .join(sizes.withColumnRenamed("_id", "id_a")
        .withColumnRenamed("_n", "_na"), "id_a")
      .join(sizes.withColumnRenamed("_id", "id_b")
        .withColumnRenamed("_n", "_nb"), "id_b")
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst"),
          round(col("_inter").cast("double") / col("_na").cast("double"), 6)
            .as("containment")),
        struct(col("id_b").as("src"), col("id_a").as("dst"),
          round(col("_inter").cast("double") / col("_nb").cast("double"), 6)
            .as("containment")))).as("_e"))
      .select(col("_e.src").as("src"), col("_e.dst").as("dst"),
        col("_e.containment").as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** DIRECTED containment pairs with EXACT semantics and BOUNDED
    * blocking — same output contract as [[containmentPairs]]
    * ((src, dst, containment ≥ t), containment = |A∩B|/|A| over full
    * distinct-shingle sets), but the quadratic-in-hot-shingle pair
    * generation the uncapped form pays (Σ_sh df(sh)² — the r12
    * scale-killer: one stop-shingle in 10⁶ docs is 10¹² pair events)
    * is HYBRID-bounded:
    *
    *  - shingles with df ≤ `maxBlock` go through the same
    *    posting-list pair-count aggregation as the uncapped form —
    *    per-shingle cost df², bounded by maxBlock² each, and the
    *    count aggregation doubles as the NON-HOT part of |A∩B|;
    *  - shingles with df > `maxBlock` ("hot") never generate pairs
    *    from their full posting lists. Completeness comes from the
    *    containment prefix theorem: C(A→B) ≥ t forces ≥ t·|A| shared
    *    shingles, so at least one shared shingle sits in A's
    *    `|A| − ⌈t·|A|⌉ + 1` globally-rarest slice (global order =
    *    (df, fingerprint), a total order). A pair missed by the
    *    capped leg shares ONLY hot shingles, so its witness in A's
    *    prefix is hot — probing just the HOT members of each prefix
    *    against just the HOT flat entries recovers every such pair.
    *    Per-shingle cost collapses from df² to prefix-df × df, and
    *    prefix-df ≈ 0 for true stop-shingles (a shingle sits in a
    *    doc's rarest-(1−t) slice only when ≥ t of the doc's
    *    vocabulary is hotter still);
    *  - the HOT part of |A∩B| is an `array_intersect` of the two
    *    docs' hot-shingle arrays (each ≤ the doc's shingle count,
    *    and typically tiny — the stop-shingle film), joined per
    *    CANDIDATE — cost ∝ candidates, never corpus².
    *
    * When the vocabulary has NO hot shingle (one cheap existence probe
    * on the frequency table), the hot machinery short-circuits away and
    * the plan IS the uncapped plan — measured equal-cost on uniform
    * corpora, where a pure prefix-probe formulation loses outright by
    * generating ~(1−t)·df² join rows per shingle (measured 8-14×
    * slower than uncapped at 10× scale; rejected).
    *
    * ε discipline: the hot-leg prefix length is computed at the
    * LOWERED threshold (t − 1e-6) — relative, so it dominates both
    * float slop and the round-to-6-dp output filter's admission band
    * (round(s/sz, 6) ≥ t admits s ≥ (t − 5e-7)·sz, a band that grows
    * with sz and that an absolute nudge would stop covering). Slop can
    * therefore only ADMIT extra candidates, never exclude a pair the
    * uncapped form emits. */
  def containmentPairsExact(docs: DataFrame, idCol: String,
                            textCol: String, n: Int, threshold: Double,
                            maxBlock: Long = 1000L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1]: $threshold")
    require(maxBlock > 0, s"maxBlock must be positive: $maxBlock")
    // one tokenize+shingle scan feeds every leg. Eagerly pinned BEFORE
    // the fan-out (the r12 minhash lesson): multiple lazy consumers
    // racing to fill a cache measured multi-x swings.
    val flat = flatIndex(docs, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    flat.count()
    val freq = flat.groupBy(col("_sh")).agg(count(lit(1)).as("_df"))
    // hot machinery only exists when a hot shingle exists — the probe
    // is one existence scan over the (vocabulary-sized) freq table.
    // In the common no-hot case the df tag join is skipped entirely:
    // the plan below is then the uncapped plan, shingle for shingle.
    val anyHot = !freq.filter(col("_df") > maxBlock).limit(1).isEmpty
    val sizes = flat.groupBy(col("_id")).agg(count(lit(1)).as("_n"))
    def directedPairCounts(entries: DataFrame): DataFrame = {
      val lists = entries
        .groupBy(col("_sh"))
        .agg(sort_array(collect_list(col("_id"))).as("_ids"))
        .filter(size(col("_ids")) > 1)
      pairIntersections(lists).select(explode(array(
          struct(col("id_a").as("src"), col("id_b").as("dst"), col("_inter")),
          struct(col("id_b").as("src"), col("id_a").as("dst"), col("_inter"))))
          .as("_e"))
        .select(col("_e.src").as("src"), col("_e.dst").as("dst"),
          col("_e._inter").as("_inter"))
    }
    val cands =
      if (!anyHot) directedPairCounts(flat)
      else {
        // df-tagged index, its own pin: five lazy consumers below
        val tagged = flat.join(freq, Seq("_sh"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        tagged.count()
        // capped leg: posting lists over non-hot shingles only; the
        // pair count IS the non-hot intersection size
        val nonHotCands =
          directedPairCounts(tagged.filter(col("_df") <= maxBlock))
        val hotSets = tagged.filter(col("_df") > maxBlock)
          .groupBy(col("_id"))
          .agg(sort_array(collect_list(col("_sh"))).as("_hot"))
        // hot prefix probe: each doc's rarest slice, hot members only
        val pref = tagged
          .groupBy(col("_id"))
          .agg(sort_array(collect_list(struct(col("_df"), col("_sh"))))
            .as("_toks"))
          .select(col("_id"), col("_toks"), size(col("_toks")).as("_sz"))
          // RELATIVE slop (t − 1e-6)·sz, not t·sz − ε: the output
          // filter admits round(s/sz, 6) ≥ t, i.e. s ≥ (t − 5e-7)·sz —
          // a band that GROWS with sz, which an absolute ε stops
          // covering past sz ≈ 2. (t − 1e-6)·sz sits strictly below it
          // for every sz, so the prefix only lengthens, never misses a
          // boundary pair the uncapped form emits.
          .withColumn("_plen", (col("_sz") -
            ceil(lit(threshold - 1e-6) * col("_sz") - lit(1e-9)) + 1)
            .cast("int"))
          .select(col("_id"),
            explode(slice(col("_toks"), lit(1), col("_plen"))).as("_t"))
          .filter(col("_t._df") > maxBlock)
          .select(col("_id").as("src"), col("_t._sh").as("_sh"))
        val hotFlat = tagged.filter(col("_df") > maxBlock)
          .select(col("_id").as("dst"), col("_sh"))
        val hotCands = pref.join(hotFlat, Seq("_sh"))
          .filter(col("src") =!= col("dst"))
          .select(col("src"), col("dst")).distinct()
          .withColumn("_inter", lit(0L))
        nonHotCands.unionByName(hotCands)
          .groupBy(col("src"), col("dst"))
          .agg(max(col("_inter")).as("_inter"))
          .join(hotSets.select(col("_id").as("src"), col("_hot").as("_ha")),
            Seq("src"), "left")
          .join(hotSets.select(col("_id").as("dst"), col("_hot").as("_hb")),
            Seq("dst"), "left")
          .withColumn("_inter", col("_inter") +
            when(col("_ha").isNull || col("_hb").isNull, lit(0))
              .otherwise(size(array_intersect(col("_ha"), col("_hb"))))
              .cast("long"))
          .select(col("src"), col("dst"), col("_inter"))
      }
    cands
      .join(sizes.withColumnRenamed("_id", "src")
        .withColumnRenamed("_n", "_na"), "src")
      .withColumn("containment", round(
        col("_inter").cast("double") / col("_na").cast("double"), 6))
      .filter(col("containment") >= threshold)
      .select(col("src"), col("dst"), col("containment"))
  }

  /** Substring-level duplication: maximal spans of tokens every `w`-token
    * window of which occurs at least `minOccurrences` times in the corpus
    * (within one doc or across docs). The fixed-width, shuffle-native
    * form of suffix-array substring dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022): a suffix
    * array is a single-machine structure; counting rolling `w`-windows
    * in an inverted index finds exactly the duplicated regions of length
    * ≥ w, and merging overlapping matched windows recovers the maximal
    * duplicated span (a duplicated region of length L ≥ w contributes
    * L−w+1 consecutive matched windows, which merge back to [1, L]).
    *
    * Output: (idCol, span_start, span_end) — 1-based token indices, end
    * exclusive, ordered within each doc; callers cut `[start, end)` (or
    * all but one global occurrence) from the training mix.
    *
    * Scale posture: windows shuffle ONCE keyed on the window fingerprint
    * (8-byte xxhash64 by default; `portableHash` switches to md5 so an
    * external engine can replay the keys — identical spans either way,
    * spec-checked); the occurrence count is a map-side-combinable
    * `count`, so a boilerplate window in millions of docs costs its
    * partial counts, not a hot reducer. The flag-back semi-join is the
    * one skew exposure (every occurrence of a hot key lands in its key's
    * partition) — AQE skew-join splitting handles it, the same posture
    * as the capped posting lists above. The span merge windows over
    * MATCHED positions per doc — doc-bounded, never corpus-sized. */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      w: Int, minOccurrences: Long = 2,
                      portableHash: Boolean = false): DataFrame = {
    val wins = windowOccurrences(docs, idCol, textCol, w, portableHash)
    val dup = wins.groupBy(col("_k"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") >= minOccurrences)
      .select(col("_k"))
    mergeSpans(
      wins.join(dup, Seq("_k"), "left_semi").select(col(idCol), col("_pos")),
      idCol, w)
  }

  /** The keep-one variant (Lee et al.'s actual policy): per duplicated
    * window, the globally FIRST occurrence — minimum (doc, position) —
    * is the keeper; spans cover only the non-keeper occurrences, so one
    * copy of every duplicated region survives the cut. The election is
    * a map-side-combinable `min` over an occurrence key packed as
    * doc·2³² + pos (exact in a Long for ids < 2³¹ and docs < 2³²
    * tokens) — NO per-key window: a boilerplate window in millions of
    * docs would make `row_number() over (partition by key)` sort a
    * million-row partition, the hot-key quadratic this file
    * systematically refuses. Same skew posture as [[duplicatedSpans]]
    * otherwise.
    *
    * `idCol` MUST be integral and in [0, 2³¹): the packed key overflows
    * a signed Long past that, silently electing wrong keepers. Enforced
    * the same way the sibling bound-sensitive operators do
    * ([[Similarity.blockKnn]], `probeBuckets`): the dtype eagerly, the
    * value range in-plan via `raise_error` — misuse fails with a clear
    * message, never a wrong span table. */
  def duplicatedSpansKeepFirst(docs: DataFrame, idCol: String,
                               textCol: String, w: Int,
                               minOccurrences: Long = 2,
                               portableHash: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types._
    val idType = docs.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"duplicatedSpansKeepFirst requires an integral id column; " +
        s"'$idCol' is $idType — assign a dense numeric surrogate id " +
        "(graft.operators.Ids) first")
    val wins = windowOccurrences(docs, idCol, textCol, w, portableHash)
    val idGuarded =
      when(col(idCol) >= 0 && col(idCol) <= Int.MaxValue,
        col(idCol).cast("long"))
        .otherwise(raise_error(concat(
          lit(s"duplicatedSpansKeepFirst: '$idCol' outside [0, 2^31) " +
            "overflows the packed keeper key: "),
          col(idCol).cast("string"))))
    val occKey = idGuarded * lit(4294967296L) + col("_pos")
    val keep = wins.groupBy(col("_k"))
      .agg(count(lit(1)).as("_n"), min(occKey).as("_kp"))
      .filter(col("_n") >= minOccurrences)
      .select(col("_k"), col("_kp"))
    mergeSpans(
      wins.join(keep, Seq("_k"))
        .filter(occKey =!= col("_kp"))
        .select(col(idCol), col("_pos")),
      idCol, w)
  }

  /** On-disk window artifacts for substring-span dedup, build-once per
    * (w, hash-mode) under `basePath`: the OCCURRENCE table materializes
    * the corpus-sized derivation pass (tokenize → rolling fingerprints
    * — the expensive half of [[duplicatedSpans]]), and the COUNT table
    * its per-key totals. Counts are written LAST so their `_SUCCESS` is
    * the build-once guard and implies the occurrence table is complete.
    * Returns (occurrences, counts) read back from disk. */
  def spanTable(docs: DataFrame, idCol: String, textCol: String,
                basePath: String, w: Int,
                portableHash: Boolean = false): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    val (occPath, cntPath) = spanPaths(basePath, w, portableHash)
    val fs = new org.apache.hadoop.fs.Path(cntPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(cntPath, "_SUCCESS"))) {
      windowOccurrences(docs, idCol, textCol, w, portableHash)
        .write.mode("overwrite").parquet(occPath)
      spark.read.parquet(occPath)
        .groupBy(col("_k")).agg(count(lit(1)).as("_n"))
        .write.mode("overwrite").parquet(cntPath)
    }
    // committed-only reads: [[advanceSpanTable]] maintains occ via
    // appendOnce and cnt via swapBase — a reader racing a killed
    // advance must not see a partial delta or a torn swap
    (StagedCommit.readCommitted(spark, occPath),
      StagedCommit.readCommitted(spark, cntPath))
  }

  private def spanPaths(basePath: String, w: Int,
                        portableHash: Boolean): (String, String) = {
    val mode = if (portableHash) "md5" else "xx"
    (s"$basePath/span_occ_w${w}_$mode", s"$basePath/span_cnt_w${w}_$mode")
  }

  /** Append-only refresh for substring-span dedup: the duplicated spans
    * of the UNION corpus (existing ∪ delta) with window DERIVATION paid
    * only for the delta slice — the existing corpus contributes a
    * parquet scan of its [[spanTable]] artifacts, not a re-tokenize/
    * re-hash of every document. Window counts are additive under
    * append, so the union's duplicate set is exact: old counts merge
    * with the delta's via one full-outer count join, and spans emerge
    * for EVERY doc whose windows cross the threshold — including an old
    * doc whose text only became duplicated when the delta arrived (the
    * case a delta-only formulation would silently miss). Output equals
    * [[duplicatedSpans]] over the union, spec- and oracle-checked. */
  def refreshSpans(delta: DataFrame, idCol: String, textCol: String,
                   basePath: String, w: Int, minOccurrences: Long = 2,
                   portableHash: Boolean = false): DataFrame = {
    val spark = delta.sparkSession
    val (occPath, cntPath) = spanPaths(basePath, w, portableHash)
    val occOld = StagedCommit.readCommitted(spark, occPath)
    val cntOld = StagedCommit.readCommitted(spark, cntPath)
    // eager localCheckpoint, NOT persist: the returned lazy DataFrame
    // reads deltaOcc twice (count join + union), so a persist here could
    // never be unpaired-unpersisted without breaking the caller's plan —
    // and daily refreshes in one long-lived session would accumulate
    // cached blocks forever. A checkpoint's blocks are released by the
    // ContextCleaner as soon as the caller drops the result, with no
    // cache reference escaping this method.
    val deltaOcc = windowOccurrences(delta, idCol, textCol, w, portableHash)
      .localCheckpoint()
    val deltaCnt = deltaOcc.groupBy(col("_k")).agg(count(lit(1)).as("_nd"))
    val dup = cntOld.withColumnRenamed("_n", "_no")
      .join(deltaCnt, Seq("_k"), "full_outer")
      .filter(coalesce(col("_no"), lit(0L)) +
        coalesce(col("_nd"), lit(0L)) >= minOccurrences)
      .select(col("_k"))
    mergeSpans(
      occOld.unionByName(deltaOcc).join(dup, Seq("_k"), "left_semi")
        .select(col(idCol), col("_pos")),
      idCol, w)
  }

  /** Append-only advance OF THE ON-DISK SPAN ARTIFACTS: extend the
    * occurrence table with the delta's windows and fold the delta's
    * counts into the count table, so the next [[refreshSpans]] treats
    * today's corpus as "existing" — the disk-closing half of
    * [[refreshSpans]], exactly as [[refreshArtifacts]] closes
    * [[refreshPairs]]. Post-condition (spec-asserted): both artifacts
    * read back equal to a from-scratch [[spanTable]] over the union.
    *
    * Crash-convergent since r18 (this was the codebase's last
    * "recovery is rebuild" contract): the occurrence append lands
    * exactly once per delta CONTENT ([[StagedCommit.appendOnce]], so
    * a blind retry can no longer double-append), and the count table
    * — always derivable as `occ.groupBy(_k).count` — rewrites through
    * [[StagedCommit.swapBase]]'s write-ahead intent. A FIRST apply
    * takes the cheap incremental path (old counts + the delta's, one
    * full-outer join — never a re-aggregate of the whole occurrence
    * table); a RETRY (the occ token already committed, so a prior
    * attempt may have died before its count rewrite) repairs by
    * recomputing the counts from the committed occurrence table —
    * the O(occ) re-aggregate is paid only on the crash-retry path.
    *
    * SELF-HEALING SEAM (ADVICE r18): the incremental path is only
    * valid while cnt is in sync with occ. A prior advance of a
    * DIFFERENT delta that died at the occ-committed/cnt-not-rewritten
    * seam and was never retried used to permanently bake the missing
    * counts into cnt. Now every advance drops a `_cnt_pending` marker
    * BEFORE its occ append and clears it only after its count swap
    * succeeds; an advance that finds the marker already present at
    * entry recomputes the counts from the committed occurrence truth
    * (the same O(occ) re-aggregate the redelivery branch pays)
    * instead of trusting cnt — crash-convergence no longer depends on
    * a same-delta-retry discipline. Marker growth on occ is bounded:
    * the fold of old `_delta_*_SUCCESS` markers into the token
    * manifest runs after each successful advance (`markerKeep`, the
    * index families' pattern — occ is an appendOnce artifact whose
    * fence consults the union, never a transient marker dir). */
  def advanceSpanTable(delta: DataFrame, idCol: String, textCol: String,
                       basePath: String, w: Int,
                       portableHash: Boolean = false,
                       markerKeep: Int = 64): Unit = {
    val spark = delta.sparkSession
    val (occPath, cntPath) = spanPaths(basePath, w, portableHash)
    val fs = new org.apache.hadoop.fs.Path(cntPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pending = new org.apache.hadoop.fs.Path(cntPath, "_cnt_pending")
    // a stale marker at entry = some prior advance died between its
    // occ commit and its cnt rewrite — cnt may lag occ by ANY set of
    // deltas, so only the occurrence truth may rebuild it
    val cntSuspect = fs.exists(pending)
    val deltaOcc = windowOccurrences(delta, idCol, textCol, w, portableHash)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val token = StagedCommit.idToken(deltaOcc, idCol, "_pos", "_k")
    val cntFiles = math.max(1,
      spark.sessionState.conf.numShufflePartitions / 4)
    fs.create(pending, true).close()
    if (StagedCommit.appendOnce(occPath, token, Nil, deltaOcc) &&
        !cntSuspect) {
      // chaos seam (test-only): occ committed, counts not yet — the
      // torn state the pending-marker recompute branch repairs
      graft.FailPoint.hit("spans_after_occ_append")
      // first apply over a trusted cnt: incremental count merge (the
      // swap stages the new counts while the old files still exist,
      // so the lazy self-read is safe — same device as
      // BqIndex.rewriteBase)
      StagedCommit.swapBase(spark, cntPath,
        StagedCommit.readCommitted(spark, cntPath)
          .withColumnRenamed("_n", "_no")
          .join(deltaOcc.groupBy(col("_k")).agg(count(lit(1)).as("_nd")),
            Seq("_k"), "full_outer")
          .select(col("_k"),
            (coalesce(col("_no"), lit(0L)) + coalesce(col("_nd"), lit(0L)))
              .as("_n")),
        cntFiles)
    } else {
      // redelivery OR suspect cnt (a prior advance died before its
      // count rewrite) — converge the count table from the committed
      // occurrence truth, which now includes this delta
      StagedCommit.swapBase(spark, cntPath,
        StagedCommit.readCommitted(spark, occPath)
          .groupBy(col("_k")).agg(count(lit(1)).as("_n")),
        cntFiles)
    }
    fs.delete(pending, false)
    // ADVICE r18: bound the per-delta marker accrual on occ exactly as
    // the index-family compacts do
    StagedCommit.foldMarkers(spark, occPath, markerKeep)
    deltaOcc.unpersist()
  }

  /** Flat (id, 1-based position, window-fingerprint) stream of rolling
    * `w`-token windows. */
  private def windowOccurrences(docs: DataFrame, idCol: String,
                                textCol: String, w: Int,
                                portableHash: Boolean): DataFrame = {
    require(w >= 2, s"window width must be >= 2 tokens: $w")
    // spread before the per-window hashing (md5 on the portable path —
    // the dominant cost): single-split scans pin it to one core
    val toks = graft.Tables
      .spread(docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol), split(col(textCol), " ", -1).as("_t"))
      // sequence(1, size-w+1) REVERSES when size < w (Spark generates
      // descending sequences) — short docs have no windows, drop first
      .filter(size(col("_t")) >= w)
    // the production key stays a raw LONG (8-byte shuffle entries); the
    // portable path shuffles md5 hex strings only because the oracle
    // must re-derive the identical keys
    val winKey: Column => Column =
      s => if (portableHash) md5(s) else xxhash64(s)
    val keys = transform(
      sequence(lit(1), size(col("_t")) - (w - 1)),
      i => winKey(concat_ws(" ", slice(col("_t"), i, lit(w)))))
    toks
      .select(col(idCol), posexplode(keys).as(Seq("_p0", "_k")))
      .select(col(idCol), (col("_p0") + 1).cast("long").as("_pos"), col("_k"))
  }

  /** Gaps-and-islands merge of matched window positions into maximal
    * [start, end) spans — windows only over MATCHED positions per doc,
    * doc-bounded, never corpus-sized. */
  private def mergeSpans(matched: DataFrame, idCol: String,
                         w: Int): DataFrame = {
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("_pos"))
    matched
      .withColumn("_brk",
        when(col("_pos") >
          coalesce(lag(col("_pos"), 1).over(byDoc), lit(-1000000L)) + w,
          1).otherwise(0))
      .withColumn("_grp", sum(col("_brk"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("_grp"))
      .agg(min(col("_pos")).as("span_start"),
        (max(col("_pos")) + w).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"))
  }

  /** Remove every duplicated span from the text: tokens covered by any
    * [start, end) span of [[duplicatedSpans]]' output are dropped, the
    * survivors re-joined with single spaces. Docs without spans pass
    * through unchanged (left join). The per-row rebuild is a scan-stage
    * filter over the token array against the doc's (collected, broadcast-
    * sized per row) span list — no window, one join keyed on the doc id.
    *
    * Feed it [[duplicatedSpans]] for the aggressive cut-every-copy
    * policy, or [[duplicatedSpansKeepFirst]] for Lee et al.'s keep-one
    * policy (one global occurrence of every duplicated region
    * survives). */
  def cutSpans(docs: DataFrame, spans: DataFrame, idCol: String,
               textCol: String): DataFrame = {
    val sp = spans.groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("_spans"))
    val t = split(col(textCol), " ", -1)
    val kept = filter(t, (_, i) =>
      !exists(col("_spans"), s =>
        i + 1 >= s.getField("span_start") && i + 1 < s.getField("span_end")))
    docs.join(sp, Seq(idCol), "left")
      .withColumn(textCol,
        when(col("_spans").isNull, col(textCol))
          .otherwise(concat_ws(" ", kept)))
      .drop("_spans")
  }

  /** MinHash+LSH candidate pairs with exact-Jaccard verification.
    * bands×rowsPerBand must equal numHashes. Docs whose signatures agree
    * on ALL rows of ≥1 band become candidates (banding amplification);
    * candidates are then verified with the exact n-gram Jaccard, so the
    * LSH stage only affects recall, never precision.
    *
    * Dataflow: the capped posting lists are built with one shuffle and
    * persisted; the flat (id, shingle) index is re-derived map-side by
    * [[explodeIndex]] wherever needed — (a) the signature aggregation
    * (`numHashes` partial-aggregated `min(xxhash64(seed, shingle))`
    * columns, a single shuffle keyed on doc id) and (b) the exact
    * verification of the banded candidates.
    *
    * `maxBlock` caps stop-shingles exactly as in [[ngramJaccardPairs]]
    * (same capped universe for signatures AND verification). The LSH
    * hazard it guards: a shingle present in ~every doc wins the min for
    * some seeds in every signature, collapsing band buckets into one hot
    * bucket whose candidate self-join is quadratic in corpus size. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, numHashes: Int, bands: Int,
                      threshold: Double, maxBlock: Long = 0): DataFrame = {
    val idx = buildIdx(docs, idCol, textCol, n, maxBlock)
    pairsFromBanded(bandedSignatures(idx, numHashes, bands), idx, threshold)
  }

  /** Band-bucket self-join + exact verification over precomputed banded
    * signatures (_id, band, bkey) — the half of [[minhashLshPairs]] below
    * the signature aggregation, shared with the artifact-fed path of
    * [[pairTable]]. */
  private def pairsFromBanded(banded: DataFrame, idx: DataFrame,
                              threshold: Double): DataFrame = {
    val l = banded.select(col("_id").as("id_a"), col("band"), col("bkey"))
    val r = banded.select(col("_id").as("id_b"), col("band"), col("bkey"))
    val cand = l.join(r, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    verifyCandidates(cand, idx, threshold)
  }

  /** Banded MinHash signatures (_id, band, bkey) from a flat (id,
    * shingle-fingerprint) index: `numHashes` partial-aggregated mins,
    * one shuffle keyed on doc id, bands hashed to a single key each.
    * A doc's signature depends only on its own shingle set, which is
    * what makes append-only refresh exact ([[deltaPairs]]). */
  private def bandedSignatures(idx: DataFrame, numHashes: Int,
                               bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sigCols = (0 until numHashes)
      .map(i => min(xxhash64(lit(i), col("_sh"))).as(s"_h$i"))
    val sig = idx.groupBy(col("_id")).agg(sigCols.head, sigCols.tail: _*)
    sig.select(col("_id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          xxhash64((b * rows until (b + 1) * rows)
            .map(i => col(s"_h$i")): _*).as("bkey"))): _*))
        .as("_b"))
      .select(col("_id"), col("_b.band"), col("_b.bkey"))
  }

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs against
    * the flat shingle index: intersection via two candidate-side joins
    * (candidates are small — AQE broadcasts them), sizes from one index
    * aggregate; keep pairs ≥ threshold. */
  private def verifyCandidates(cand0: DataFrame, idx: DataFrame,
                               threshold: Double): DataFrame = {
    // the candidate set is read three times (size restriction + two
    // intersection joins) and sits behind a band join + distinct —
    // persist it rather than recompute; it is pair-count-sized, orders
    // of magnitude below the corpus. Materialize EAGERLY: the returned
    // plan's three subtrees are independent stages the DAG scheduler
    // may run concurrently, and each would race to recompute the
    // not-yet-cached candidates (band self-join + signature agg
    // included) before any of them populates the cache — measured as a
    // 5-28 s swing on one fixed input at sf0.1. The count also fills
    // the upstream posting-list cache (buildIdx) exactly once, via the
    // single plan whose self-join reuses one exchange.
    val cand = cand0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cand.count()
    // per-doc set sizes only matter for docs that appear in a candidate
    // pair: the semi-join keeps the size aggregation's shuffle input
    // proportional to the candidate set, not the corpus
    val candIds = cand
      .select(explode(array(col("id_a"), col("id_b"))).as("_id")).distinct()
    val sizes = idx.join(candIds, Seq("_id"), "left_semi")
      .groupBy(col("_id")).agg(count(lit(1)).as("_n"))
    val inter = cand
      .join(idx.select(col("_id").as("id_a"), col("_sh")), "id_a")
      .join(idx.select(col("_id").as("_idb"), col("_sh").as("_sh2")),
        col("id_b") === col("_idb") && col("_sh") === col("_sh2"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("_inter"))
    inter
      .join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("_n", "_na"), "id_a")
      .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("_n", "_nb"), "id_b")
      .withColumn("jaccard", round(
        col("_inter").cast("double") /
          (col("_na") + col("_nb") - col("_inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Pairs contributed by an append-only corpus DELTA: delta×existing ∪
    * delta×delta, discovered through the same banded blocking and
    * exact-verified — with ZERO existing×existing pair work. The full
    * corpus is still scanned once (signatures + verification index are
    * per-doc and cheap); what the incremental path avoids is the
    * quadratic half: bands containing no delta doc generate nothing.
    *
    * Exactness requires the UNcapped shingle universe (maxBlock would
    * make per-doc sizes — and thus old pairs' scores — depend on the
    * rest of the corpus, breaking append-only semantics), and per-doc
    * MinHash signatures depend only on the doc itself, so
    * `existingPairs ∪ deltaPairs` equals the from-scratch computation
    * up to banding recall, exactly as for [[minhashLshPairs]].
    *
    * The trade-off, stated plainly: no cap means no stop-shingle guard —
    * a corpus-wide shingle can win band minima everywhere and collapse
    * buckets (the hazard [[minhashLshPairs]]' maxBlock exists for). Use
    * the incremental path when the corpus is clean enough to go uncapped
    * (templates stripped upstream) or the threshold is high; a capped
    * production pipeline takes the periodic full [[pairTable]] rebuild
    * instead — capped scores are corpus-dependent, so capped
    * "increments" would silently disagree with a fresh build. */
  def deltaPairs(docs: DataFrame, deltaIds: DataFrame, idCol: String,
                 textCol: String, n: Int, numHashes: Int, bands: Int,
                 threshold: Double,
                 oldBanded: Option[DataFrame] = None): DataFrame = {
    // uncapped ⟹ the flat index derives map-side (no posting-list
    // shuffle); persisted because signatures and verification both read it
    val idx = buildIdx(docs, idCol, textCol, n, maxBlock = 0)
    // no broadcast hint on the delta-id set: a "delta" in the append-only
    // refresh use case is legitimately a large batch, and a forced
    // broadcast of an unbounded distinct would fail the job at the
    // broadcast limit instead of degrading — AQE broadcasts it when the
    // runtime size qualifies and falls back to a shuffled semi-join when
    // it doesn't
    val deltaIdSet = deltaIds
      .select(col(deltaIds.columns.head).as("_id")).distinct()
    // `oldBanded` = the persisted banded signatures (id, band, bkey) of
    // EXACTLY the non-delta docs at the same n/numHashes/bands (see
    // [[bandedTable]]): per-doc signatures depend only on the doc's own
    // shingles, so artifact-read and recomputed signatures are identical —
    // supplying it skips re-signing the whole old corpus and the full
    // signature aggregation shuffles only the delta slice
    val (deltaBanded, allBanded) = oldBanded match {
      case Some(ob) =>
        val db = bandedSignatures(
            idx.join(deltaIdSet, Seq("_id"), "left_semi"), numHashes, bands)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (db, ob.select(col("id").as("_id"), col("band"), col("bkey")).union(db))
      case None =>
        val all = bandedSignatures(idx, numHashes, bands)
        (all.join(deltaIdSet, Seq("_id"), "left_semi"), all)
    }
    deltaCandPairs(idx, deltaBanded, allBanded, threshold)
  }

  /** delta-side banded rows × full banded rows → canonical verified
    * pairs (the lower half of [[deltaPairs]], shared with
    * [[refreshArtifacts]]). */
  private def deltaCandPairs(idx: DataFrame, deltaBanded: DataFrame,
                             allBanded: DataFrame,
                             threshold: Double): DataFrame = {
    val cand = deltaBanded.select(col("_id").as("id_a"), col("band"), col("bkey"))
      .join(allBanded.select(col("_id").as("id_b"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("id_a") =!= col("id_b"))
      // canonical order; delta×delta pairs meet twice (both sides are in
      // the delta slice), the distinct collapses them
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
    verifyCandidates(cand, idx, threshold)
  }

  /** Append-only refresh of a pair set: existing (existing×existing)
    * pairs — typically a [[pairTable]] artifact — plus the delta's
    * contribution. Disjoint by construction (every delta pair has ≥1
    * delta member; existing pairs have none), so a plain union. */
  def refreshPairs(docs: DataFrame, deltaIds: DataFrame,
                   existingPairs: DataFrame, idCol: String, textCol: String,
                   n: Int, numHashes: Int, bands: Int,
                   threshold: Double,
                   oldBanded: Option[DataFrame] = None): DataFrame =
    existingPairs.select(col("id_a"), col("id_b"), col("jaccard"))
      .union(deltaPairs(docs, deltaIds, idCol, textCol, n, numHashes,
        bands, threshold, oldBanded))

  /** Build-once / load-many near-dup pair artifact: the MinHash+LSH pair
    * set materialized to parquet under `basePath`, keyed by every
    * parameter that affects the result (so a parameter change can never
    * silently reuse a stale artifact). First call computes and writes;
    * later calls — including from a fresh session after a cache clear —
    * read the parquet back.
    *
    * Rationale: candidate generation is the expensive half of near-dup
    * clustering, and downstream consumers (cluster resolution, keeper
    * selection, reporting) all want the SAME pair set. Same pattern as
    * [[graft.operators.IvfIndex]] and the reference's build-once
    * report-base (`4.3 ... container .../mysql_related.py` report-base
    * procedures): pay the build once, serve every reader from disk. At
    * 100 TB the artifact is also the natural unit of incremental refresh
    * (rebuild only when the corpus version changes). */
  def pairTable(docs: DataFrame, idCol: String, textCol: String,
                basePath: String, n: Int, numHashes: Int, bands: Int,
                threshold: Double, maxBlock: Long = 0,
                banded: Option[DataFrame] = None): DataFrame = {
    // `banded` = precomputed signatures of exactly `docs` (typically a
    // [[bandedTable]] artifact): skips the signature aggregation on a
    // cold build. Uncapped only — capped signatures are a function of
    // the capped shingle universe, which bandedTable does not model.
    require(banded.isEmpty || maxBlock <= 0,
      "pairTable: precomputed banded signatures require maxBlock <= 0")
    val spark = docs.sparkSession
    val key = s"n${n}_h${numHashes}_b${bands}_t${threshold}_m$maxBlock"
    val path = s"$basePath/pairs_$key"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // _SUCCESS is written atomically at commit — a killed build leaves no
    // marker and the next call rebuilds
    if (!fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS"))) {
      val pairs = banded match {
        case Some(b) =>
          pairsFromBanded(
            b.select(col("id").as("_id"), col("band"), col("bkey")),
            buildIdx(docs, idCol, textCol, n, maxBlock = 0), threshold)
        case None =>
          minhashLshPairs(docs, idCol, textCol, n, numHashes, bands,
            threshold, maxBlock)
      }
      pairs.write.mode("overwrite").parquet(path)
    }
    spark.read.parquet(path)
  }

  /** Build-once / load-many BANDED-signature artifact: one (id, band,
    * bkey) row per doc per band, parquet under `basePath`, keyed by every
    * parameter the signature depends on. Per-doc MinHash signatures are a
    * function of the doc's own (uncapped) shingle set alone, so the
    * artifact composes exactly with append-only refresh: sign the old
    * corpus once, then [[deltaPairs]]/[[refreshPairs]] with
    * `oldBanded = Some(bandedTable(...))` sign only the delta — the
    * re-signing of the unchanged corpus (the dominant cost of a refresh
    * at 100 TB) is replaced by a parquet scan. */
  def bandedTable(docs: DataFrame, idCol: String, textCol: String,
                  basePath: String, n: Int, numHashes: Int,
                  bands: Int): DataFrame = {
    val spark = docs.sparkSession
    val path = s"$basePath/banded_n${n}_h${numHashes}_b$bands"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS")))
      bandedSignatures(flatIndex(docs, idCol, textCol, n), numHashes, bands)
        .select(col("_id").as("id"), col("band"), col("bkey"))
        .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** Benchmark decontamination: for each doc in `docs`, how many of its
    * distinct n-gram shingles appear ANYWHERE in `evalDocs` (the
    * held-out / benchmark set); docs sharing fewer than `minShared` are
    * dropped. The standard pre-training hygiene pass — training on text
    * that overlaps the eval set inflates benchmark scores.
    *
    * Scale shape: both shingle sets derive map-side ([[flatIndex]], no
    * posting-list shuffle); the eval universe is distinct'd (eval sets
    * are tiny next to the corpus, so AQE broadcasts it) and the count is
    * one partial-aggregated groupBy over the semi-joined train index —
    * O(corpus shingles) scan work, shuffle proportional to contaminated
    * docs only. */
  def contaminationCounts(docs: DataFrame, evalDocs: DataFrame,
                          idCol: String, textCol: String, n: Int,
                          minShared: Long): DataFrame = {
    val trainIdx = flatIndex(docs, idCol, textCol, n)
    val evalSh = flatIndex(evalDocs, idCol, textCol, n)
      .select(col("_sh")).distinct()
    trainIdx.join(evalSh, Seq("_sh"), "left_semi")
      .groupBy(col("_id")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("_id").as(idCol), col("n_shared"))
  }

  /** [[contaminationCounts]] with a Bloom-filter prefilter — the shape
    * that survives an eval universe too big to broadcast exactly. The
    * exact formulation broadcasts the full distinct eval-shingle set to
    * every task; at a 100 TB posture that set can be hundreds of
    * millions of strings (GBs serialized), while its Bloom filter at
    * 1% fpp is ~1.2 bits per entry — two orders of magnitude smaller,
    * and STILL one scan-stage predicate. The pipeline: a driver-side
    * Bloom of xxhash64(eval shingle) (insertion is bit-OR, so the
    * distributed aggregate is order-independent and deterministic),
    * shipped as one binary literal inside Spark's own codegen'd
    * `might_contain` predicate; the exact semi-join then runs ONLY over
    * the Bloom survivors — contaminated shingles plus an fpp-sized
    * trickle — so its shuffle is ∝ contamination, not corpus. False
    * positives cannot reach the output (the semi-join is exact); the
    * result equals [[contaminationCounts]] row-for-row, gate-checked
    * against the same oracle. This is Spark's runtime-filter
    * (InjectRuntimeFilter) device applied deliberately, where the
    * optimizer's own heuristics would not fire across two derived
    * shingle streams. */
  def contaminationCountsBloom(docs: DataFrame, evalDocs: DataFrame,
                               idCol: String, textCol: String, n: Int,
                               minShared: Long,
                               expectedEval: Long = 1L << 20,
                               fpp: Double = 0.01): DataFrame = {
    val trainIdx = flatIndex(docs, idCol, textCol, n)
    val evalSh = flatIndex(evalDocs, idCol, textCol, n)
      .select(col("_sh")).distinct()
    val bloom = evalSh.select(xxhash64(col("_sh")).as("_h"))
      .stat.bloomFilter("_h", expectedEval, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    import org.apache.spark.sql.GraftBridge.{column => gc, expression => ge}
    val might = gc(org.apache.spark.sql.catalyst.expressions
      .BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          bos.toByteArray, org.apache.spark.sql.types.BinaryType),
        ge(xxhash64(col("_sh")))))
    trainIdx.filter(might)
      .join(evalSh, Seq("_sh"), "left_semi")
      .groupBy(col("_id")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("_id").as(idCol), col("n_shared"))
  }

  /** Streaming decontamination — [[contaminationCountsBloom]] with the
    * training corpus arriving as a stream and the eval set static: the
    * ingest-time hygiene gate a 100 TB pipeline runs so contaminated
    * documents never land in the training store at all. The eval
    * shingle universe is computed ONCE at stream definition (distinct +
    * driver-side Bloom); per micro-batch the doc's shingles derive in
    * the scan stage, the codegen'd `might_contain` drops the clean bulk
    * statelessly, the exact stream-static semi-join kills Bloom false
    * positives, and a `flatMapGroupsWithState` count emits each doc
    * crossing `minShared`. A document's text arrives in ONE row, so its
    * shingles land in one micro-batch and the emitted count is complete
    * — the per-entity state only guards re-delivered docs against
    * double-emission (a doc split across batches would emit its
    * cumulative count at the crossing batch). Output matches the batch
    * operator row-for-row at drain. */
  def decontaminateStream(docsStream: DataFrame, evalDocs: DataFrame,
                          idCol: String, textCol: String, n: Int,
                          minShared: Long,
                          expectedEval: Long = 1L << 20,
                          fpp: Double = 0.01): DataFrame = {
    val spark = evalDocs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val evalSh = flatIndex(evalDocs, idCol, textCol, n)
      .select(col("_sh")).distinct().localCheckpoint()
    val bloom = evalSh.select(xxhash64(col("_sh")).as("_h"))
      .stat.bloomFilter("_h", expectedEval, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    import org.apache.spark.sql.GraftBridge.{column => gc, expression => ge}
    val might = gc(org.apache.spark.sql.catalyst.expressions
      .BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          bos.toByteArray, org.apache.spark.sql.types.BinaryType),
        ge(xxhash64(col("_sh")))))
    flatIndex(docsStream, idCol, textCol, n)
      .filter(might)
      .join(evalSh, Seq("_sh"), "left_semi")
      .select(col("_id").cast("long").as("_id")).as[Long]
      .groupByKey(identity)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (id, rows, state) =>
          val before = state.getOption.getOrElse(0L)
          val total = before + rows.size
          state.update(total)
          if (before < minShared && total >= minShared)
            Iterator((id, total))
          else Iterator.empty
      }
      .toDF(idCol, "n_shared")
  }

  /** Append-only refresh OF THE ON-DISK ARTIFACTS: extends the banded
    * signature table with the delta's signatures and the pair table with
    * the delta's verified pairs, so the next consumer loads current
    * state with ZERO recomputation — the disk-closing half of
    * [[refreshPairs]] (which returns the refreshed pair SET but leaves
    * the artifacts describing yesterday's corpus).
    *
    * `docs` must be the FULL corpus (old ∪ delta) and both artifacts
    * must already exist for exactly the non-delta docs at the same
    * parameters (built via [[bandedTable]] + [[pairTable]] — enforced
    * via their _SUCCESS markers; threshold is uncapped-only like every
    * append-exact flow). Post-condition, spec-asserted: both artifacts
    * read back equal to a from-scratch build over the full corpus.
    *
    * Exactly-once via [[StagedCommit]], like [[LshIndex.append]]: both
    * delta appends stage + rename-commit under ONE content-derived
    * token (from the delta id set), so a kill anywhere — mid-stage,
    * mid-commit, or between the pair and banded appends — is repaired
    * by re-running the same refresh: committed halves no-op, partial
    * halves are swept and redone. Recovery is retry, not rebuild. */
  def refreshArtifacts(docs: DataFrame, deltaIds: DataFrame, idCol: String,
                       textCol: String, basePath: String, n: Int,
                       numHashes: Int, bands: Int,
                       threshold: Double): Unit = {
    val spark = docs.sparkSession
    val bandedPath = s"$basePath/banded_n${n}_h${numHashes}_b$bands"
    val pairsPath =
      s"$basePath/pairs_n${n}_h${numHashes}_b${bands}_t${threshold}_m0"
    val fs = new org.apache.hadoop.fs.Path(basePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(bandedPath, "_SUCCESS")) &&
      fs.exists(new org.apache.hadoop.fs.Path(pairsPath, "_SUCCESS")),
      s"refreshArtifacts: build bandedTable + pairTable under $basePath first")
    val idx = buildIdx(docs, idCol, textCol, n, maxBlock = 0)
    val deltaIdSet = deltaIds
      .select(col(deltaIds.columns.head).as("_id")).distinct()
    val deltaBanded = bandedSignatures(
        idx.join(deltaIdSet, Seq("_id"), "left_semi"), numHashes, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // committed-only read: a PRIOR refresh killed mid-commit leaves
    // partial banded files its own retry would sweep — this refresh
    // must not fold them into the old-signature set
    val oldBanded = StagedCommit.readCommitted(spark, bandedPath)
      .select(col("id").as("_id"), col("band"), col("bkey"))
    val token = StagedCommit.idToken(deltaIdSet, "_id")
    StagedCommit.appendOnce(pairsPath, token, Seq.empty,
      deltaCandPairs(idx, deltaBanded, oldBanded.union(deltaBanded), threshold))
    StagedCommit.appendOnce(bandedPath, token, Seq.empty,
      deltaBanded.select(col("_id").as("id"), col("band"), col("bkey")))
    // both consuming actions are done — release the cached blocks (the
    // lazy-returning paths below cannot do this; see buildIdx's note)
    deltaBanded.unpersist()
    idx.unpersist()
  }

  /** 64-bit SimHash over the token set: each token votes ±1 per bit of
    * its xxhash64; simhash bit b = sign of the vote sum. Result is a
    * Long whose bit 63 may set the sign — compare bits, not magnitude.
    *
    * One native codegen expression per row
    * ([[graft.functions.SimHash64]]): the former declarative
    * formulation folded a 64-element vote array through HOFs —
    * CodegenFallback, with the token hash re-evaluated once per bit
    * (64 xxhash64 calls per token). Signatures are bit-identical
    * (spec-asserted against the aggregate artifact path) — this is the
    * stateless projection the streaming operators apply per event. */
  def withSimhash(docs: DataFrame, textCol: String, outCol: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge.{column => c, expression => e}
    docs.withColumn(outCol,
      c(graft.functions.SimHash64(e(col(textCol)))))
  }

  /** SimHash signatures as per-bit vote aggregates over the exploded
    * token index: one `sum` per bit of `2*bit(h)-1`, partial-aggregated
    * map-side — the scale formulation of `withSimhash` (identical
    * result; the token hash is materialized once per (doc, token) row
    * instead of re-evaluated per bit). */
  private def simhashAgg(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = graft.Tables
      .spread(docs.select(col(idCol).as("_id"), col(textCol).as("_txt")),
        col("_id"))
      .select(col("_id"),
        explode(array_distinct(split(lower(col("_txt")), " ", -1))).as("_tok"))
      .select(col("_id"), xxhash64(col("_tok")).as("_h"))
    val voteCols = (0 until 64).map(b =>
      sum(shiftright(col("_h"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"_v$b"))
    val votes = toks.groupBy(col("_id")).agg(voteCols.head, voteCols.tail: _*)
    val sim = (0 until 64).map(b =>
        when(col(s"_v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((a, c) => a.bitwiseOR(c))
    votes.select(col("_id"), sim.as("_sim"))
  }

  /** Build-once / load-many SimHash signature artifact: one (id, sim)
    * row per doc, parquet under `basePath` — the signature generation is
    * engine-specific (xxhash64 token votes), but once materialized the
    * pair derivation (chunk blocking + Hamming verify) is recomputable by
    * anything that reads parquet, which is what makes the gate query
    * hash-checkable (same pattern as [[IvfIndex]] / [[pairTable]]). */
  def simhashTable(docs: DataFrame, idCol: String, textCol: String,
                   basePath: String): DataFrame = {
    val spark = docs.sparkSession
    val path = s"$basePath/simhash"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS")))
      simhashAgg(docs, idCol, textCol)
        .select(col("_id").as("id"), col("_sim").as("sim"))
        .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** Pair derivation over a precomputed `(id, sim)` signature frame:
    * block on the four 16-bit chunks (pigeonhole: Hamming ≤ 3 ⟹ some
    * chunk matches exactly), verify Hamming ≤ maxDist via
    * bit_count(xor). Exact (not approximate) for maxDist ≤ 3. */
  def simhashPairsFromSignatures(sig: DataFrame, maxDist: Int): DataFrame =
    chunkBlockPairs(sig.select(col("id").as("_id"), col("sim").as("_sim")),
      maxDist)

  /** SimHash near-dup pairs end-to-end: signatures + [[simhashPairsFromSignatures]]. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxDist: Int): DataFrame =
    // chunkBlockPairs checkpoints the signatures eagerly, so the
    // self-join sides never re-run the token-vote aggregation
    chunkBlockPairs(simhashAgg(docs, idCol, textCol), maxDist)

  /** Chunk-blocked Hamming pairs with a hot-bucket guard: identical
    * signatures (a boilerplate-heavy corpus concentrates thousands of
    * docs on ONE signature, hence one (chunk, ckey) bucket — the
    * self-join there is quadratic in DOCS) are collapsed to one
    * representative per distinct signature BEFORE the chunk blocking.
    *
    *   - intra-signature pairs (Hamming 0, unconditional matches) come
    *     from one equality self-join on the signature — each pair found
    *     once, no 4× chunk multiplicity, no distinct;
    *   - the chunk self-join runs over REPRESENTATIVES only, so a hot
    *     bucket is quadratic in DISTINCT signatures, not docs;
    *   - surviving signature pairs (1 ≤ Hamming ≤ maxDist) expand back
    *     to member pairs with two joins on the signature.
    *
    * Output-pair count is inherently pairwise (the contract emits every
    * near-dup pair); the guard bounds the CANDIDATE work, which is the
    * part that explodes at 100 TB. */
  private def chunkBlockPairs(sig: DataFrame, maxDist: Int): DataFrame = {
    val frozen = sig.localCheckpoint() // sides of 3 self-joins below
    val reps = frozen.groupBy(col("_sim")).agg(min(col("_id")).as("_id"))
      .localCheckpoint()

    val intra = frozen.select(col("_id").as("id_a"), col("_sim"))
      .join(frozen.select(col("_id").as("id_b"), col("_sim")), "_sim")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        lit(0).cast("int").as("hamming"))

    val chunked = reps.select(col("_sim"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          shiftrightunsigned(col("_sim"), c * 16)
            .bitwiseAND(lit(0xFFFFL)).as("ckey"))): _*)).as("_c"))
      .select(col("_sim"), col("_c.chunk"), col("_c.ckey"))
    val simPairs = chunked
      .select(col("_sim").as("_sima"), col("chunk"), col("ckey"))
      .join(chunked.select(col("_sim").as("_simb"), col("chunk"), col("ckey")),
        Seq("chunk", "ckey"))
      .filter(col("_sima") < col("_simb"))
      .select(col("_sima"), col("_simb"),
        bit_count(col("_sima").bitwiseXOR(col("_simb"))).as("hamming"))
      // filter BEFORE distinct: hamming is per-pair constant, so the
      // order is semantically free and the dedup shuffle shrinks by
      // whatever the distance cut rejects
      .filter(col("hamming") <= maxDist)
      .distinct()
    val cross = simPairs
      .join(frozen.select(col("_id").as("_ida"), col("_sim").as("_sima")),
        "_sima")
      .join(frozen.select(col("_id").as("_idb"), col("_sim").as("_simb")),
        "_simb")
      .select(least(col("_ida"), col("_idb")).as("id_a"),
        greatest(col("_ida"), col("_idb")).as("id_b"),
        col("hamming"))

    intra.union(cross)
  }

  /** Connected components over a near-dup pair graph by iterative
    * min-label propagation: every node ends up labeled with the smallest
    * id reachable from it — the canonical "keeper" of its duplicate
    * cluster. `nodes` = one `id` column (all docs; singletons keep their
    * own id), `pairs` = (id_a, id_b) from any of the pair generators.
    *
    * Each iteration is a neighbor-min join + a pointer-doubling shortcut
    * (`comp := labels(comp)` — path compression), so label distance to
    * the component minimum halves-and-propagates each round: convergence
    * in O(log diameter) rounds rather than O(diameter). Ten rounds cover
    * chains of length ~2^10; if the changed-count is still positive at
    * `maxIter` the labels are NOT a fixpoint and this throws rather than
    * silently returning a wrong clustering.
    *
    * Lineage discipline (the scale-critical part): every round ends in an
    * EAGER `localCheckpoint`, not a mere persist. With persist alone the
    * logical plan still contains the whole upstream candidate-generation
    * graph (for LSH-sourced pairs, a ~1 MiB serialized plan) plus every
    * prior round, so driver-side analysis/planning grows per round and
    * dominates the tiny per-round shuffles — measured 125 s for a
    * few-hundred-edge graph at sf0.1, vs seconds with truncation. The
    * checkpoint also freezes the round's labels, giving the same
    * two-pass determinism barrier as [[graft.operators.Ids]]. On a
    * multi-executor cluster prefer `sc.setCheckpointDir` + reliable
    * `.checkpoint()` for fault tolerance; `localCheckpoint` trades that
    * for speed, which is the right call for an iterative loop whose
    * restart cost is one rerun. */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
                          maxIter: Int = 10): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint()
    // Iterate ONLY over the pair graph's vertices: a node with no edge
    // can never change its label, so singletons (the overwhelming
    // majority of a deduped corpus) stay out of every join and are
    // stitched back with one left join at the end. Per-round work is
    // O(edges), not O(corpus).
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
      .localCheckpoint()
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("id").as("_nid"), col("comp").as("_ncomp")),
          col("dst") === col("_nid"))
        .groupBy(col("src")).agg(min(col("_ncomp")).as("_nmin"))
      // checkpoint before the self-join below: propagated is read twice
      // (as both sides), and truncating here keeps the round's plan flat
      val propagated = labels
        .join(neighborMin, labels("id") === neighborMin("src"), "left")
        .select(col("id"), col("comp").as("_old"),
          least(col("comp"), coalesce(col("_nmin"), col("comp"))).as("comp"))
        .localCheckpoint()
      // pointer doubling: jump each label to its label's label. comp is
      // always a real node id (labels start as ids and only copy ids),
      // so the self-join always matches and comp only decreases.
      val updated = propagated.alias("l")
        .join(propagated.select(col("id").as("_cid"), col("comp").as("_ccomp"))
          .alias("r"), col("l.comp") === col("_cid"), "left")
        .select(col("l.id").as("id"), col("_old"),
          least(col("l.comp"), coalesce(col("_ccomp"), col("l.comp"))).as("comp"))
        .localCheckpoint()
      changed = updated.filter(col("comp") =!= col("_old")).count()
      labels = updated.select(col("id"), col("comp"))
      i += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still changing) — raise maxIter")
    // stitch singletons back: comp defaults to the node's own id
    nodes.select(col("id"))
      .join(labels.withColumnRenamed("comp", "_c"), Seq("id"), "left")
      .select(col("id"), coalesce(col("_c"), col("id")).as("comp"))
  }

  /** Build-once label-table artifact: [[connectedComponents]] labels
    * materialized to parquet under a caller-keyed path — "yesterday's
    * labels", the state [[connectedComponentsDelta]] folds a delta
    * into. Same `_SUCCESS` build-once guard as every artifact here. */
  def labelTable(nodes: DataFrame, pairs: DataFrame, basePath: String,
                 maxIter: Int = 10): DataFrame = {
    val spark = nodes.sparkSession
    val path = s"$basePath/cc_labels"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS")))
      connectedComponents(nodes, pairs, maxIter)
        .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** Incremental connected components: fold DELTA pairs into an
    * existing label table without re-iterating the old graph. Each
    * delta endpoint contracts to its current component label (new nodes
    * keep themselves) — an old component behaves as one super-node, so
    * the min-label iteration runs over the CONTRACTED delta graph only:
    * per-refresh work ∝ delta edges, plus one relabeling join over the
    * old labels. Exact, because an old label IS the minimum id of its
    * component: the contracted minimum equals the merged component's
    * true global minimum (spec asserts equality with from-scratch CC
    * over the union edge set). The natural companion of
    * [[refreshPairs]]/[[refreshArtifacts]]: yesterday's labels + the
    * delta's pairs → today's labels, never touching old×old edges. */
  def connectedComponentsDelta(nodes: DataFrame, oldLabels: DataFrame,
                               deltaPairs: DataFrame,
                               maxIter: Int = 10): DataFrame = {
    val lab = oldLabels.select(col("id"), col("comp"))
    val contracted = deltaPairs
      .join(lab.select(col("id").as("_aid"), col("comp").as("_ac")),
        col("id_a") === col("_aid"), "left")
      .join(lab.select(col("id").as("_bid"), col("comp").as("_bc")),
        col("id_b") === col("_bid"), "left")
      .select(coalesce(col("_ac"), col("id_a")).as("id_a"),
        coalesce(col("_bc"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val cNodes = contracted.select(col("id_a").as("id"))
      .union(contracted.select(col("id_b").as("id"))).distinct()
    val cc = connectedComponents(cNodes, contracted, maxIter)
    nodes.select(col("id"))
      .join(lab.withColumnRenamed("comp", "_oc"), Seq("id"), "left")
      .withColumn("_l", coalesce(col("_oc"), col("id")))
      .join(cc.select(col("id").as("_cl"), col("comp").as("_cc")),
        col("_l") === col("_cl"), "left")
      .select(col("id"), coalesce(col("_cc"), col("_l")).as("comp"))
  }

  /** Embedding-cosine near-dup pairs within a coarse block (e.g. cluster
    * label / IVF cell): the block join bounds the pair count; cosine ≥
    * threshold kept. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            blockCol: String, threshold: Double,
                            subBuckets: Int = 8): DataFrame = {
    // Two scale devices on top of the block join:
    //  1. Norms are computed once per input row BELOW the join (n folds),
    //     not once per pair (n²): cosine(a,b) = dot(a,b)/(|a|·|b|) with
    //     |·| materialized as a column — bit-identical to the inline form.
    //  2. Triangle decomposition: a blocking column with few distinct
    //     values (10 labels) gives at most that many join tasks, however
    //     many shuffle partitions exist. Each row gets a content-hash
    //     sub-bucket in [0,B); the pair space splits into B(B+1)/2
    //     bucket-pair tasks per block — left side replicated to buckets
    //     ≥ its own, right side to buckets ≤ its own, so every unordered
    //     pair meets exactly once. ~B/2× data inflation buys ~B²/2×
    //     parallelism; the id_a<id_b filter dedups the diagonal.
    val B = math.max(subBuckets, 1)
    val bucket = pmod(xxhash64(col(idCol)), lit(B.toLong))
    val a = df.select(col(blockCol).as("_blk"), col(idCol).as("id_a"),
        col(vecCol).as("_va"), VectorFunctions.norm(col(vecCol)).as("_na"),
        bucket.as("_ba"))
      .withColumn("_bb", explode(sequence(col("_ba"), lit(B.toLong - 1))))
    val b = df.select(col(blockCol).as("_blk"), col(idCol).as("id_b"),
        col(vecCol).as("_vb"), VectorFunctions.norm(col(vecCol)).as("_nb"),
        bucket.as("_bb2"))
      .withColumn("_ba", explode(sequence(lit(0L), col("_bb2"))))
      .withColumnRenamed("_bb2", "_bb")
    a.join(b, Seq("_blk", "_ba", "_bb"))
      .filter(col("_ba") < col("_bb") || col("id_a") < col("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("cosine", round(
        VectorFunctions.dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")), 6))
      .filter(col("cosine") >= threshold)
      // cross-bucket pairs arrive in hash order, not id order — the
      // canonical (min,max) output survives; cosine is symmetric
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("cosine"))
  }

  /** n-gram Jaccard pairs with EXACT candidates via prefix filtering
    * (AllPairs / PPJoin, Bayardo et al. 2007 / Xiao et al. 2008) — the
    * uncapped-exact sibling of [[ngramJaccardPairs]], whose `maxBlock`
    * buys bounded blocks by redefining the similarity over informative
    * shingles only. Here the semantics stay plain Jaccard ≥ t and the
    * blocking is still bounded, because only each doc's PREFIX — its
    * `|x| − ⌈t·|x|⌉ + 1` globally rarest shingles (global order =
    * (doc-frequency, fingerprint), a total order) — is indexed:
    * if Jaccard(x,y) ≥ t, their overlap is ≥ ⌈t·max(|x|,|y|)⌉, so the
    * globally-smallest shared shingle provably sits inside BOTH
    * prefixes — candidate completeness is a theorem, not a cap. A
    * qualifying pair's sizes also satisfy t·|y| ≤ |x|, pruned during
    * pair generation before the distinct.
    *
    * Scale shape: hot stop-shingles ("of the and" in 10⁶ docs) are
    * exactly the ones prefixes EXCLUDE — posting lists shrink to the
    * rare end of the vocabulary, so within-block pair generation is
    * quadratic only in per-rare-shingle doc counts. The exact verify
    * computes `array_intersect` on the two docs' full shingle arrays,
    * per CANDIDATE — cost ∝ survivors, not the corpus pair product. */
  def ngramJaccardPairsExact(docs: DataFrame, idCol: String,
                             textCol: String, n: Int,
                             threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1]: $threshold")
    // persisted: the tokenize+shingle scan feeds BOTH the frequency
    // table and the per-doc sets — without the cache the in-plan
    // subtree evaluates twice (profiler-measured 1.6 s of the gate's 6 s
    // at sf0.1). Same cache-lifetime contract as buildIdx above.
    val flat = flatIndex(docs, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val freq = flat.groupBy(col("_sh")).agg(count(lit(1)).as("_df"))
    // full shingle set per doc, ordered by global rarity; the prefix
    // is a slice of that order
    val docSets = flat.join(freq, Seq("_sh"))
      .groupBy(col("_id"))
      .agg(sort_array(collect_list(struct(col("_df"), col("_sh"))))
        .as("_toks"))
      .select(col("_id"),
        expr("transform(_toks, t -> t._sh)").as("_set"),
        size(col("_toks")).as("_sz"))
      // RELATIVE ε, (t − 1e-6)·sz: the output filter admits
      // round(j, 6) ≥ t, i.e. overlap ≥ (t − 5e-7)·max(|x|,|y|) — a
      // boundary band that grows with set size, which the former
      // absolute 1e-9 nudge stopped covering beyond tiny sets. The
      // lowered-threshold prefix can only LENGTHEN (extra candidates —
      // safe), never exclude a pair the round-6dp filter keeps.
      .withColumn("_plen",
        (col("_sz") -
          ceil(lit(threshold - 1e-6) * col("_sz") - lit(1e-9)) + 1)
          .cast("int"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val plists = docSets
      .select(col("_id"), col("_sz"),
        explode(slice(col("_set"), lit(1), col("_plen"))).as("_sh"))
      .groupBy(col("_sh"))
      .agg(sort_array(collect_list(struct(col("_sz"), col("_id"))))
        .as("_entries"))
    // pair stream off each rare-shingle list (entries sorted by size
    // so the t·|y| ≤ |x| length filter applies to every suffix pair)
    val cands = plists
      .select(col("_entries"),
        posexplode(col("_entries")).as(Seq("_i", "_ea")))
      .select(col("_ea"),
        explode(slice(col("_entries"), col("_i") + lit(2),
          size(col("_entries")))).as("_eb"))
      // same relative-ε discipline: the size prune may only be too
      // permissive (a round-6dp boundary pair satisfies
      // (t − 5e-7)·|y| ≤ |x|, not t·|y| ≤ |x|)
      .filter(lit(threshold - 1e-6) * col("_eb._sz")
        <= col("_ea._sz") + lit(1e-9))
      .select(least(col("_ea._id"), col("_eb._id")).as("id_a"),
        greatest(col("_ea._id"), col("_eb._id")).as("id_b"))
      .distinct()
    val aSide = docSets.select(col("_id").as("id_a"),
      col("_set").as("_seta"), col("_sz").as("_sza"))
    val bSide = docSets.select(col("_id").as("id_b"),
      col("_set").as("_setb"), col("_sz").as("_szb"))
    cands.join(aSide, Seq("id_a")).join(bSide, Seq("id_b"))
      .withColumn("_inter",
        size(array_intersect(col("_seta"), col("_setb"))))
      .withColumn("jaccard", round(
        col("_inter").cast("double") /
          (col("_sza") + col("_szb") - col("_inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Levenshtein-≤1 pair mining by deletion-neighborhood blocking
    * (the FastSS / SymSpell scheme): two strings within edit distance
    * 1 MUST share a member of {s} ∪ {delete one char of s} — equal
    * strings share the identity, a substitution shares the deletion
    * at the substituted position, an insertion/deletion pairs the
    * shorter identity with the longer's deletion. So the candidate
    * join keys on (blockCols, variant) where each string contributes
    * `len+1` variants, and the exact `levenshtein` confirm runs ONLY
    * on candidates that share a variant — near-matches plus a thin
    * film of false candidates (shared variant, distance 2) the filter
    * kills.
    *
    * Scale shape vs the naive block self-join: the naive form pays
    * |block|²/2 distance evaluations per block (quadratic in the hot
    * block); this pays `len+1`× row inflation into TINY exact-match
    * buckets, so the shuffle is variants-sized and the distance count
    * is ≈ the true match count. `maxLen` bounds the inflation and is
    * enforced in-plan (`raise_error`, the refuse-loudly idiom) —
    * long-string corpora should block on shingles
    * ([[ngramJaccardPairs]]) instead, where edit distance 1 is the
    * wrong similarity anyway.
    *
    * Output: `id_a < id_b, dist` (0 or 1), one row per pair. */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        blockCols: Seq[String] = Nil,
                        maxLen: Int = 64): DataFrame = {
    require(maxLen >= 1, s"maxLen must be positive: $maxLen")
    val guarded =
      when(length(col(strCol)) <= maxLen, col(strCol))
        .otherwise(raise_error(concat(
          lit(s"editDistancePairs: '$strCol' longer than maxLen=" +
            s"$maxLen inflates the variant join; raise maxLen or " +
            "block on shingles instead: "),
          substring(col(strCol), 1, 32))))
    val variants = df
      .select((col(idCol).as("_id") +: blockCols.map(col)) :+
        guarded.as("_s"): _*)
      .select((col("_id") +: blockCols.map(col)) :+ col("_s") :+
        explode(expr(
          // i = 0 keeps the string; i = 1..len deletes char i
          "transform(sequence(0, length(_s)), i -> IF(i = 0, _s, " +
            "concat(substring(_s, 1, i - 1), " +
            "substring(_s, i + 1, length(_s)))))")).as("_var"): _*)
    val joinKeys = blockCols :+ "_var"
    val a = variants
      .toDF(variants.columns.map(c =>
        if (c == "_id") "_ida" else if (c == "_s") "_sa" else c): _*)
    val b = variants
      .toDF(variants.columns.map(c =>
        if (c == "_id") "_idb" else if (c == "_s") "_sb" else c): _*)
    a.join(b, joinKeys)
      .filter(col("_ida") < col("_idb"))
      .select(col("_ida").as("id_a"), col("_idb").as("id_b"),
        col("_sa"), col("_sb"))
      .distinct() // a pair can share several variants
      .withColumn("dist", levenshtein(col("_sa"), col("_sb")).cast("long"))
      .filter(col("dist") <= 1)
      .select(col("id_a"), col("id_b"), col("dist"))
  }
}
