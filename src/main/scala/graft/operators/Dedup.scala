package graft.operators

import graft.functions.{TextExpressions => X, TextFunctions => T, VectorFunctions => V}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication for large text corpora.
  *
  * Scale shape (100 TB): every variant is
  *   1. a map-side, shuffle-free per-doc signature (hash / minhash /
  *      simhash / LSH bucket), then
  *   2. one shuffle keyed on the (small) signature — never the text,
  *   3. bucket-local candidate-pair generation with a per-bucket cap so
  *      a degenerate bucket (all-identical spam) can't quadratically
  *      explode an executor,
  *   4. an exact verify join (Jaccard / cosine) only on candidates.
  *
  * Signatures are built from `functions._` higher-order expressions —
  * no UDFs, fully codegen'd, deterministic across runs/partitionings.
  */
object Dedup {

  /** Exact dedup: group identical content, keep the smallest id.
    * At scale the shuffle carries (hash, id) — 24 bytes/doc, not the
    * document text. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup after text normalization (case/whitespace folding). */
  def exactNormalized(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(T.fingerprint(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Variable-length cross-document repeated spans — the exact-
    * substring dedup signal of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better"), re-expressed
    * relationally instead of via a suffix array: for every doc pair,
    * every MAXIMAL common token span of length ≥ `minLen` (a span that
    * cannot be extended left or right and still match).
    *
    * Algorithm: anchor k-grams with their positions; equal grams
    * across two docs are points (pos_l, pos_r); points on one DIAGONAL
    * (pos_l − pos_r constant) at consecutive positions chain into a
    * run, and a maximal run of length m covers a maximal common span
    * of m+k−1 tokens. Runs fall out of one window per (pair, diagonal)
    * — the islands-and-gaps trick (pos − row_number constant within a
    * run) — no iteration, no suffix structure.
    *
    * Scale shape: gram occurrences are map-side (posexplode of the
    * native shingle-hash array with `hashGrams`); the match join is
    * keyed on the 8-byte gram hash and every exchange carries
    * (hash, doc, pos) longs, never text; `maxGramFreq` caps
    * pathological grams (corpus-wide boilerplate generates O(f²)
    * matches — the same frequent-gram cap suffix-array pipelines
    * apply), so bucket skew is bounded exactly like
    * [[pairsFromBuckets]]. The per-(pair, diagonal) window groups are
    * at most one doc long. Docs shorter than k tokens are excluded
    * (sub-anchor docs are plain exact dedup's job).
    *
    * Output: (id_l, id_r, pos_l, pos_r, span_len), one row per maximal
    * span. A span is reported once per doc PAIR and offset — the same
    * text repeated in p docs yields its p·(p−1)/2 pairs, which is what
    * the downstream cut/keep decision needs. */
  def maximalSpans(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 5, minLen: Int = 10, maxGramFreq: Long = 10000L,
                   hashGrams: Boolean = true): DataFrame = {
    require(minLen >= k, s"minLen $minLen must be >= anchor length k=$k")
    val toks = T.tokens(col(textCol))
    val gramsCol =
      if (hashGrams) X.shingleHashes(T.normText(col(textCol)), k)
      else T.shingles(col(textCol), k)
    val occ = docs.filter(size(toks) >= k)
      .select(col(idCol).as("__doc"), posexplode(gramsCol).as(Seq("__pos", "__g")))
    val freqOk = occ.groupBy(col("__g")).agg(count(lit(1)).as("__f"))
      .filter(col("__f") <= maxGramFreq).select(col("__g"))
    val occ2 = occ.join(freqOk, "__g")
    val m = occ2.as("a").join(occ2.as("b"),
        col("a.__g") === col("b.__g") && col("a.__doc") < col("b.__doc"))
      .select(col("a.__doc").as("id_l"), col("b.__doc").as("id_r"),
        col("a.__pos").as("pos_l"), col("b.__pos").as("pos_r"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_l"), col("id_r"), col("__d")).orderBy(col("pos_l"))
    m.withColumn("__d", col("pos_l") - col("pos_r"))
      .withColumn("__isl", col("pos_l") - row_number().over(w))
      .groupBy(col("id_l"), col("id_r"), col("__d"), col("__isl"))
      .agg(min(col("pos_l")).as("pos_l"), min(col("pos_r")).as("pos_r"),
        (max(col("pos_l")) - min(col("pos_l")) + k).cast("long").as("span_len"))
      .filter(col("span_len") >= minLen)
      .select(col("id_l"), col("id_r"), col("pos_l"), col("pos_r"), col("span_len"))
  }

  /** The CUT half of exact-substring dedup (Lee et al. 2022 §4: each
    * duplicated span is kept ONCE, in the smallest-id doc, and removed
    * from every other occurrence): rewrite the corpus with the covered
    * token ranges of [[maximalSpans]] deleted from the id_r side of
    * every span pair.
    *
    * Scale shape: the span relation is orders of magnitude smaller
    * than the corpus (it lists repeats, not text); per doc the cut
    * ranges are UNIONED first (sort + running-max interval merge
    * inside a per-doc window — spans overlap when a doc repeats
    * against several partners) and collected into one small array per
    * doc, so the rewrite is a single map-side token filter over the
    * joined doc — no token-level shuffle, and docs with no spans pass
    * through untouched via the left join.
    *
    * Output: (idCol, n_tokens, n_cut_tokens, textCol) — the text
    * rebuilt from surviving tokens of the NORMALIZED stream (the
    * token-level rewrite is definitionally over tokens, matching the
    * span positions). */
  def cutSpans(docs: DataFrame, spans: DataFrame, idCol: String, textCol: String,
               k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("__id")).orderBy(col("__s"), col("__e"))
    // interval union: a range starting past the running max of prior
    // ends opens a new island (strictly-after: touching ranges merge).
    // DISTINCT first — the same (doc, range) arrives once per partner
    // doc, and duplicate (s, e) rows are windowing hazards: the maxe
    // and island-sum windows may order ties differently (observed as a
    // DuckDB run-to-run flap), while distinct ranges have a total
    // (s, e) order.
    val ranges = spans
      .select(col("id_r").as("__id"), col("pos_r").as("__s"),
        (col("pos_r") + col("span_len")).as("__e"))
      .distinct()
      .withColumn("__maxe", max(col("__e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new", (col("__maxe").isNull || col("__s") > col("__maxe")).cast("int"))
      .withColumn("__isl", sum(col("__new")).over(w))
      .groupBy(col("__id"), col("__isl"))
      .agg(min(col("__s")).as("__s"), max(col("__e")).as("__e"))
      .groupBy(col("__id"))
      .agg(collect_list(struct(col("__s"), col("__e"))).as("__cuts"))
    docs
      .join(ranges, docs(idCol) === ranges("__id"), "left")
      .select(col(idCol), T.tokens(col(textCol)).as("__ts"), col("__cuts"))
      .select(col(idCol),
        size(col("__ts")).cast("long").as("n_tokens"),
        coalesce(aggregate(col("__cuts"), lit(0L),
          (acc, c) => acc + (c.getField("__e") - c.getField("__s"))), lit(0L))
          .as("n_cut_tokens"),
        array_join(filter(col("__ts"), (t, i) =>
          col("__cuts").isNull || !exists(col("__cuts"),
            c => i >= c.getField("__s") && i < c.getField("__e"))), " ").as(textCol))
  }

  /** MinHash signatures as a relation: (id, sig array<long>).
    *
    * One map-side codegen'd pass per doc (MinHashSignature expression):
    * shingle-hash the text and fold all `numHashes` per-seed minima in
    * a tight loop — ZERO exchange. The per-seed family is bit-identical
    * to the composable explode→`min(xxhash64(h, lit(j)))`→groupBy
    * pipeline this replaces (XXH64.hashInt(j, XXH64.hashLong(h, 42))),
    * which paid one corpus-wide shuffle of 64 partial minima per doc
    * plus per-(row,seed) Catalyst expression overhead — measured ~2×
    * slower at sf0.1 and strictly worse at 100 TB (an exchange over
    * the whole corpus vs none). A nested higher-order-function
    * formulation is ~50× slower still: Catalyst inlines the
    * shingle-array construction into every per-seed lambda and
    * interprets it. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int, shingleK: Int): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        X.minhashSignature(T.normText(col(textCol)), shingleK, numHashes).as("sig"))

  /** LSH banding: signature → `numBands` band hashes. Docs sharing any
    * band hash are near-dup candidates. */
  def bandHashes(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(numBands - 1)),
      b => xxhash64(b, slice(sig, b * lit(rowsPerBand) + 1, lit(rowsPerBand))))

  /** Candidate pairs from any bucketed (id, bucketKey...) relation.
    * One shuffle: groupBy bucket → collect ids → emit i<j pairs
    * bucket-locally via generators (no join-back, so the upstream
    * signature expressions are evaluated exactly once). Buckets capped
    * at `maxBucketSize` (skew guard — an n-doc bucket yields n²/2
    * pairs; a degenerate all-identical-spam bucket is dropped rather
    * than allowed to explode an executor).
    *
    * `carry` columns ride through the buckets with their id: the
    * output is (id_l, id_r) plus `<c>_l`, `<c>_r` per carried column,
    * so a verify that needs only a fixed-width per-id value (a SimHash
    * signature, a new-side flag) reads it off the pair instead of
    * joining it back — one fewer shuffle. A carried column must be a
    * function of the id (same doc ⇒ same value); with a carry, ids are
    * collected as `struct(id +: carry)` and sorted id-major, so the
    * pair set and the cap are the id-only ones (spec-pinned). Never
    * carry KB-sized arrays (shingle sets, embeddings): every band would
    * ship them.
    *
    * The result carries its own planner size bound: a [[FanoutBound]]
    * of `maxBucketSize` over the Generate-built pairs, so no join over
    * them can statically broadcast a pair explosion that Catalyst's
    * Generate estimate sizes at scan size (the sf10 8 GiB broadcast
    * crash). The bound sits beneath the distinct, so a caller's filter
    * on the pairs is still pushed below the pair exchange. The relation stays lazy — no cache, no eager job — and a
    * consumer that reads it twice shares one bucket pipeline through
    * exchange reuse.
    *
    * `dedup=false` skips the cross-bucket `.distinct()` on the emitted
    * pairs. The distinct is a pair-COUNT-sized aggregation (hash state
    * per candidate — the single most expensive node of the whole LSH
    * pipeline when buckets are dense: 182.7M-row two-phase agg, 26 GB
    * spill, ~1750 CPU-s at the sf10 ladder) and it only shaves
    * duplicate verify work bounded by the bucket-column multiplicity
    * (≤ nTables−1 extra verifies per pair). Callers whose verify is
    * CHEAP per pair (one codegen'd cosine) and SELECTIVE defer the
    * distinct to the filtered survivors instead; callers with a single
    * bucket column (cell-partitioned semDedup) have no duplicates at
    * all and skip both. Callers whose verify is itself a join
    * (minhash/ngram's shingle-set jaccard) keep the pre-verify dedup —
    * there each duplicate costs a full join row, not 64 multiplies. */
  def pairsFromBuckets(bucketed: DataFrame, idCol: String,
                       bucketCols: Seq[String], maxBucketSize: Int,
                       dedup: Boolean = true, carry: Seq[String] = Nil): DataFrame = {
    // Pre-truncate each bucket to cap+1 rows BEFORE collecting: the
    // row_number window is sort-based (spills gracefully), so a
    // degenerate 10M-doc bucket never materializes as one in-memory
    // array — it arrives truncated at cap+1 and the size filter drops
    // it. The window's hash partitioning is reused by the groupBy (no
    // second exchange).
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(bucketCols.map(col): _*).orderBy(col(idCol))
    val truncated = bucketed
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxBucketSize + 1)
    // A bucket collects bare ids, or (id, carry...) structs sorted
    // id-major. Bare ids are cheaper to collect, sort and explode (sf1
    // ladder, 4 cores: dedup_minhash 4.0-4.2 s, 5.1 s as single-field
    // structs), and they type the pair ids non-null: a join over the
    // pairs infers no null filter to push through the distinct, so both
    // of pairSets' reads of the pairs plan alike and share one bucket
    // pipeline.
    def field(side: String, f: String) = if (carry.isEmpty) col(side) else col(side).getField(f)
    val elem = if (carry.isEmpty) col(idCol) else struct((idCol +: carry).map(col): _*)
    val ids = truncated.groupBy(bucketCols.map(col): _*)
      .agg(collect_set(elem).as("__ids"))
      .filter(size(col("__ids")).between(2, maxBucketSize))
      .select(array_sort(col("__ids")).as("__ids"))
    // without dedup's exchange, nothing after the explosion is
    // repartitioned, so spread the buckets over the session's shuffle
    // parallelism first: AQE sizes the bucket stage by its input bytes
    // and coalesced a dense corpus's buckets into one partition, which
    // ran the whole explosion and the caller's verify joins in one task
    // (sf1 ladder, 4 cores: dedup_embedding 7.4 → 14-17 s)
    val spread =
      if (dedup) ids
      else ids.repartition(bucketed.sparkSession.sessionState.conf.numShufflePartitions, col("__ids"))
    def sides(f: String, name: String) = Seq("l", "r").map(s => field(s"__$s", f).as(s"${name}_$s"))
    val pairs = spread
      .select(posexplode(col("__ids")).as(Seq("__i", "__l")), col("__ids"))
      .select(col("__l"), explode(slice(col("__ids"), col("__i") + 2, size(col("__ids")))).as("__r"))
      .select(sides(idCol, "id") ++ carry.flatMap(c => sides(c, c)): _*)
    // no rule pushes a filter through the bound: beneath the distinct,
    // a caller's filter (the hamming verify, the new-side flag) still
    // prunes before the pair exchange
    val bounded = FanoutBound.bound(pairs, maxBucketSize)
    if (dedup) bounded.distinct() else bounded
  }

  /** MinHash+LSH near-duplicate pairs, exact-verified with n-gram
    * Jaccard >= `threshold`.
    *
    * Band geometry is threshold-matched: the LSH S-curve midpoint is
    * (1/b)^(1/r), so for the default threshold 0.5 we use b=16 bands of
    * r=4 rows ((1/16)^(1/4) = 0.5 exactly). A J=0.8 true pair is then
    * missed with probability (1-0.8^4)^16 ≈ 2e-4, while a J=0.3
    * vocabulary-overlap pair becomes a candidate (and is rejected by
    * the exact verify) only ~12% of the time — candidate volume stays
    * ~linear in the true-dup count. (The earlier r=8 geometry had its
    * midpoint at 0.84 and demonstrably missed J≈0.8 pairs.) When
    * targeting a higher threshold, shrink b / grow r to match. */
  /** Band geometry for an LSH target threshold: the (numBands,
    * rowsPerBand) factorization of `numHashes` whose S-curve midpoint
    * (1/b)^(1/r) is closest to `threshold`. For the defaults
    * (0.5, 64) this is (16, 4) — midpoint exactly 0.5. */
  def bandGeometry(threshold: Double, numHashes: Int = 64): (Int, Int) = {
    val options = for { r <- 1 to numHashes if numHashes % r == 0 } yield (numHashes / r, r)
    options.minBy { case (b, r) => math.abs(math.pow(1.0 / b, 1.0 / r) - threshold) }
  }

  /** `numBands <= 0` (the default) auto-selects the geometry from
    * `threshold` via [[bandGeometry]] — pass it explicitly only to
    * trade recall for candidate volume deliberately. Lazy: the verify
    * reads the candidate pairs twice (candidate-id semi-join + the pair
    * join) and exchange reuse runs the bucket pipeline once. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 64, numBands: Int = 0, shingleK: Int = 3,
                   threshold: Double = 0.5, maxBucketSize: Int = 500): DataFrame = {
    val bands = if (numBands > 0) numBands else bandGeometry(threshold, numHashes)._1
    // one fused map-side expression: text → band hashes (signature
    // never materialized as a column — see MinHashBandHashes for why
    // the composable slice/transform form recomputes it per band)
    val bucketed = df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(X.minhashBands(T.normText(col(textCol)), shingleK, numHashes, bands))
          .as(Seq("band", "bucket")))
    val cand = pairsFromBuckets(bucketed, idCol, Seq("band", "bucket"), maxBucketSize)
    ngramJaccard(cand, df, idCol, textCol, shingleK)
      .filter(col("jaccard") >= threshold)
  }

  /** Exact n-gram Jaccard on candidate pairs (the verify step), over
    * sets of shingle HASHES (longs), not strings: same Jaccard modulo
    * 64-bit collisions (~n²/2^64), far cheaper to intersect. */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String,
                   shingleK: Int): DataFrame =
    jaccard(pairSets(pairs, docs, idCol, X.shingleHashes(T.normText(col(textCol)), shingleK)))

  /** Exact n-gram Jaccard on candidate pairs over STRING shingle sets
    * (no hashing). Same semantics as [[ngramJaccard]] minus the
    * ~n²/2^64 hash-collision term; ~3× the shuffle width because the
    * sets carry shingle text. Production uses the hashed form — this
    * variant exists so the DuckDB oracle can rebuild identical sets
    * from string_split, making the verify join hash-checkable
    * end-to-end. */
  def ngramJaccardStrings(pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String,
                          shingleK: Int): DataFrame =
    jaccard(pairSets(pairs, docs, idCol, T.shingles(col(textCol), shingleK)))

  private def jaccard(sets: DataFrame): DataFrame =
    sets.select(col("id_l"), col("id_r"),
      round(size(array_intersect(col("set_l"), col("set_r"))).cast("double") /
        size(array_union(col("set_l"), col("set_r"))), 6).as("jaccard"))

  /** The shared verify join of the shingle-set verifiers: each pair
    * with both sides' distinct shingle sets (id_l, id_r, set_l, set_r).
    * Sets are built ONLY for docs that appear in a candidate pair
    * (semi-join first): at 100 TB the candidate set is orders of
    * magnitude smaller than the corpus, so the expensive
    * shingle-materialize + the two pair-joins touch a tiny relation
    * instead of scanning the corpus twice. The candidate ids are read
    * beneath the pairs' [[FanoutBound]]: a pair relation's ids are no
    * more than its bucketed input, which the Generate estimate already
    * reflects, so the semi-join can still broadcast them instead of
    * shuffling the corpus text. */
  private def pairSets(pairs: DataFrame, docs: DataFrame, idCol: String,
                       shingles: Column): DataFrame = {
    val candIds = FanoutBound.unbounded(pairs)
      .select(explode(array(col("id_l"), col("id_r"))).as(idCol)).distinct()
    val sets = docs.join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol).as("__id"), array_distinct(shingles).as("__set"))
    pairs
      .join(sets.select(col("__id").as("id_l"), col("__set").as("set_l")), "id_l")
      .join(sets.select(col("__id").as("id_r"), col("__set").as("set_r")), "id_r")
  }

  /** Per-doc MinHash incremental state: LSH band hashes (for candidate
    * generation) + the distinct shingle-hash set (for the exact-Jaccard
    * verify) — everything a later increment needs, so the old corpus
    * TEXT is never touched again. ~8·(bands + |set|) bytes/doc, an
    * order of magnitude under the text it replaces. */
  /** EXACT near-dup truth relation: every unordered pair with k-gram
    * Jaccard >= threshold, via the shared-shingle prefilter — complete
    * for threshold > 0 because a pair with J > 0 shares at least one
    * shingle. The prefilter is a shingle-hash-keyed equi-join carrying
    * (id, hash) longs; its cost scales with Σ df(g)² over shingles, so
    * run it on the evaluation SAMPLE, not the full corpus — this is
    * the truth side of [[pairEval]], the tuning metric for the banded
    * production detectors (which never do this join). Measured on the
    * r14 sf1 scale ladder (BASELINE.md): 10× docs → 83× runtime on a
    * dense-vocabulary corpus (every shingle shared by ~90 docs) — the
    * Σdf² term is genuinely quadratic there, which is WHY the contract
    * is eval-on-sample (10–50k docs), never the 100 TB corpus. Since
    * r15 the contract is ENFORCED: the exact candidate mass Σ df² is
    * priced with one agg before the pair join, and an over-budget
    * input is refused with sample-size guidance (`maxCandidateMass`;
    * <= 0 opts out for callers that already priced the corpus). */
  def exactJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 3, threshold: Double = 0.5,
                        maxCandidateMass: Long = 50_000_000L): DataFrame = {
    // count-based exact Jaccard: |A∩B| = the number of shared DISTINCT
    // shingle hashes, counted directly off the prefilter join, and
    // |A∪B| = |A|+|B|−|A∩B| from two tiny (id, size) joins — the
    // shuffles carry (id, hash) longs and pair counts only, never the
    // per-doc shingle arrays (an ngramJaccard-style verify join would
    // ship text-sized arrays to every candidate pair)
    // cached: consumed by the exploded self-join AND both size joins —
    // without it the tokenize+shingle projection runs ~3×. (id,
    // hash-array) rows, sample-sized; the returned plan reads it
    // lazily, so it stays cached (Bench clearCache()s between measured
    // passes).
    val sets = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        array_distinct(X.shingleHashes(T.normText(col(textCol)), shingleK)).as("__set"))
      .cache()
    val sizes = sets.select(col("__id"), size(col("__set")).as("__n"))
    val ex = sets.select(col("__id"), explode(col("__set")).as("__g"))
    // ENFORCE the eval-on-sample contract before generating a single
    // pair: the prefilter join emits exactly Σ df(g)² rows (both
    // orders + self-matches), so one cheap agg over the shingle df
    // relation prices the join in advance. Above the budget the call
    // REFUSES with concrete sample-size guidance instead of launching
    // a shuffle that is quadratic in the hot shingles' document
    // frequency (the r14 sf1 ladder measured 83× runtime for 10×
    // docs on a dense-vocabulary corpus). maxCandidateMass <= 0
    // disables the guard (and its extra pass) for callers that have
    // already priced the corpus. The default admits every eval-sized
    // sample (measured: sf0.1's 5k docs ≈ 2.8e6 mass) and refuses the
    // dense sf1 ladder corpus (50k docs ≈ 2.5e8 mass) with a ~0.44
    // sample fraction suggested.
    if (maxCandidateMass > 0) {
      val r = ex.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
        .agg(coalesce(sum(col("__df").cast("double") * col("__df")), lit(0.0)),
          coalesce(sum(col("__df")), lit(0L))).collect()(0)
      val mass = r.getDouble(0)
      if (mass > maxCandidateMass) {
        val nDocs = sizes.count()
        // mass scales ~quadratically in the sampled doc count at fixed
        // shingle density, so a fraction f cuts it by ~f²
        val f = math.sqrt(maxCandidateMass / mass)
        throw new IllegalArgumentException(
          f"exactJaccardPairs: candidate mass ${mass}%.3g (Σ df² over ${r.getLong(1)} " +
            f"shingle occurrences, $nDocs docs) exceeds the budget $maxCandidateMass. " +
            "This operator is the eval-on-sample TRUTH side of pairEval, not a corpus " +
            f"dedup — run it on docs.sample(${math.max(f, 1e-6)}%.4f) (≈${math.max(1L,
              (nDocs * f).toLong)} docs) or raise maxCandidateMass deliberately; " +
            "production detectors (minhashPairs/simhashPairs) stay banded and capped.")
      }
    }
    val inter = ex.select(col("__id").as("id_l"), col("__g"))
      .join(ex.select(col("__id").as("id_r"), col("__g")), "__g")
      .filter(col("id_l") < col("id_r"))
      .groupBy(col("id_l"), col("id_r")).agg(count(lit(1)).as("__i"))
    inter
      .join(sizes.select(col("__id").as("id_l"), col("__n").as("__nl")), "id_l")
      .join(sizes.select(col("__id").as("id_r"), col("__n").as("__nr")), "id_r")
      .select(col("id_l"), col("id_r"),
        round(col("__i").cast("double") /
          (col("__nl") + col("__nr") - col("__i")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** One-row recall/precision of a predicted near-dup pair relation
    * against a truth pair relation (both (id_l, id_r), id_l < id_r) —
    * the detector-tuning metric: how much of the exact-Jaccard truth
    * does a simhash/minhash/embedding detector capture, and how much
    * of what it flags is real. One full-outer join on the (tiny) pair
    * relations + one partial-agg pass; integer counts and an
    * integer-ratio round-6 (the sim_recall_eval recipe — engine-exact).
    * Empty truth/prediction yields NULL recall/precision, not a
    * division error. */
  def pairEval(truth: DataFrame, predicted: DataFrame): DataFrame = {
    val t = truth.select(col("id_l"), col("id_r")).distinct()
      .withColumn("__t", lit(1L))
    val p = predicted.select(col("id_l"), col("id_r")).distinct()
      .withColumn("__p", lit(1L))
    t.join(p, Seq("id_l", "id_r"), "full_outer")
      .agg(coalesce(sum(col("__t")), lit(0L)).as("n_truth"),
        coalesce(sum(col("__p")), lit(0L)).as("n_pred"),
        coalesce(sum(when(col("__t") === 1L && col("__p") === 1L, 1L)
          .otherwise(0L)), lit(0L)).as("n_hit"))
      .select(col("n_truth"), col("n_pred"), col("n_hit"),
        when(col("n_truth") > 0,
          round(col("n_hit").cast("double") / col("n_truth"), 6)).as("recall"),
        when(col("n_pred") > 0,
          round(col("n_hit").cast("double") / col("n_pred"), 6)).as("precision"))
  }

  private def minhashState(df: DataFrame, idCol: String, textCol: String,
                           shingleK: Int, numHashes: Int, bands: Int): DataFrame =
    df.filter(col(textCol).isNotNull).select(col(idCol),
      X.minhashBands(T.normText(col(textCol)), shingleK, numHashes, bands).as("bands"),
      array_distinct(X.shingleHashes(T.normText(col(textCol)), shingleK)).as("sh"))

  /** Seed the MinHash incremental store (see [[incrementalMinhashPairs]]). */
  def writeMinhashState(df: DataFrame, idCol: String, textCol: String, path: String,
                        numHashes: Int = 64, numBands: Int = 0, shingleK: Int = 3,
                        threshold: Double = 0.5): Unit = {
    val bands = if (numBands > 0) numBands else bandGeometry(threshold, numHashes)._1
    minhashState(df, idCol, textCol, shingleK, numHashes, bands)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
  }

  /** The flag column [[newSide]] adds, and the pair filter on its
    * carried sides. */
  private val NewSide = "__new"
  private val hasNewSide = col(s"${NewSide}_l") || col(s"${NewSide}_r")

  /** The stored and new per-id state of an incremental operator merged
    * by id, with a [[NewSide]] flag: a stored id keeps its STORED row
    * (min_by on the flag: false = stored wins, deterministic) and is
    * not new, so re-submitted documents never count as a new side.
    * Carried through the buckets, the flag selects the pairs with a
    * new side — no new-id relation, no semi-join. */
  private def newSide(stored: DataFrame, fresh: DataFrame, idCol: String,
                      cols: Seq[String]): DataFrame = {
    def flagged(df: DataFrame, isNew: Boolean) =
      df.select(col(idCol), struct(cols.map(col): _*).as("__s"), lit(isNew).as(NewSide))
    flagged(stored, isNew = false).union(flagged(fresh, isNew = true))
      .groupBy(col(idCol))
      .agg(min_by(col("__s"), col(NewSide)).as("__s"), min(col(NewSide)).as(NewSide))
      .select(col(idCol) +: cols.map(c => col("__s").getField(c).as(c)) :+ col(NewSide): _*)
  }

  /** Incremental MinHash dedup: near-dup pairs of a NEW batch against
    * itself and the persisted band+shingle store — the third member of
    * the incremental trio ([[incrementalExact]], [[incrementalSimhashPairs]]).
    * Same nightly-pipeline shape: sign the new batch map-side, band-join
    * it against the store (the exchange carries (id, band, bucket)
    * longs), verify exact Jaccard on the STORED shingle sets, emit only
    * pairs with a new side (old-old pairs were reported when their
    * batch arrived), append the new rows. Band geometry must match the
    * store's (it is derived from the same (threshold, numHashes)
    * defaults — pass the same values used at [[writeMinhashState]]).
    * Re-submitting an already-stored id is a no-op by policy: the
    * stored signature wins, changed text is NOT re-signed (delete the
    * store row first to re-ingest), and a stored id is never a new
    * side (see [[newSide]]) — so its previously-reported pairs never
    * re-emit.
    * Returns (id_l, id_r, jaccard) like [[minhashPairs]]. */
  def incrementalMinhashPairs(newDocs: DataFrame, idCol: String, textCol: String,
                              statePath: String,
                              numHashes: Int = 64, numBands: Int = 0, shingleK: Int = 3,
                              threshold: Double = 0.5, maxBucketSize: Int = 500): DataFrame = {
    val bands = if (numBands > 0) numBands else bandGeometry(threshold, numHashes)._1
    val spark = newDocs.sparkSession
    val newState = minhashState(newDocs, idCol, textCol, shingleK, numHashes, bands).cache()
    val oldState = spark.read.parquet(statePath).select(col(idCol), col("bands"), col("sh"))
    val all = newSide(oldState, newState, idCol, Seq("bands", "sh"))
    val bucketed = all.select(col(idCol), col(NewSide),
      posexplode(col("bands")).as(Seq("band", "bucket")))
    val withNew = pairsFromBuckets(bucketed, idCol, Seq("band", "bucket"), maxBucketSize,
        carry = Seq(NewSide))
      .filter(hasNewSide)
      .select("id_l", "id_r")
    val sets = all.select(col(idCol), col("sh"))
    val pairs = jaccard(withNew
      .join(sets.select(col(idCol).as("id_l"), col("sh").as("set_l")), "id_l")
      .join(sets.select(col(idCol).as("id_r"), col("sh").as("set_r")), "id_r"))
      .filter(col("jaccard") >= threshold)
    // sever lineage from the store files BEFORE the append grows them
    val out = pairs.localCheckpoint(true)
    newState.join(oldState.select(col(idCol)), Seq(idCol), "left_anti")
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(statePath)
    newState.unpersist()
    out
  }

  /** Asymmetric n-gram containment on candidate pairs: what fraction
    * of each side's shingle set lies inside the other's — the quote /
    * subset-duplicate signal Jaccard misses (a short doc copied
    * whole into a long one has low Jaccard but containment ≈ 1 on
    * the short side). Same verify-join shape as [[ngramJaccard]]:
    * semi-join to candidates first, sets intersected once. Set sizes
    * are exact integers; the two containments are single rounded
    * divisions — engine-exact. `hashShingles=true` (production)
    * intersects long arrays; `false` keeps shingle strings so the
    * oracle can rebuild the sets.
    * Output: (id_l, id_r, n_l, n_r, n_common, cont_l, cont_r) for
    * pairs sharing at least one shingle. */
  def ngramContainment(pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String,
                       shingleK: Int, hashShingles: Boolean = true): DataFrame = {
    val shingles =
      if (hashShingles) X.shingleHashes(T.normText(col(textCol)), shingleK)
      else T.shingles(col(textCol), shingleK)
    pairSets(pairs, docs, idCol, shingles)
      .select(col("id_l"), col("id_r"),
        size(col("set_l")).cast("long").as("n_l"),
        size(col("set_r")).cast("long").as("n_r"),
        size(array_intersect(col("set_l"), col("set_r"))).cast("long").as("n_common"))
      .filter(col("n_common") > 0)
      .withColumn("cont_l", round(col("n_common").cast("double") / col("n_l"), 6))
      .withColumn("cont_r", round(col("n_common").cast("double") / col("n_r"), 6))
  }

  /** Token-hash choice for SimHash, usable both as a Column function
    * (`md5TokenHash(c)`) and as the `tokenHash =` argument. */
  sealed trait TokenHash {
    def apply(t: Column): Column
    private[graft] def useMd5: Boolean
  }

  /** xxhash64 (fast, the production default). */
  case object xxTokenHash extends TokenHash {
    def apply(t: Column): Column = xxhash64(t)
    private[graft] def useMd5 = false
  }

  /** 64-bit token hash derived from md5 (hi/lo 32-bit halves of the
    * first 16 hex chars). ~3× slower than xxhash64 but recomputable by
    * any engine with an md5() function — used by the gate query so the
    * DuckDB oracle can rebuild the identical signatures. */
  case object md5TokenHash extends TokenHash {
    def apply(t: Column): Column = {
      val hex = md5(t)
      val hi = conv(substring(hex, 1, 8), 16, 10).cast("long")
      val lo = conv(substring(hex, 9, 8), 16, 10).cast("long")
      shiftleft(hi, 32).bitwiseOR(lo)
    }
    private[graft] def useMd5 = true
  }

  /** 64-bit SimHash signatures as a relation: (id, sig long).
    * Per bit i, sum +1/-1 over the i-th bit of each token's 64-bit
    * hash; bit set when the sum is non-negative. One map-side
    * codegen'd pass per doc (SimHashSignature expression) — ZERO
    * exchange; the bits are pinned by spec to the composable
    * explode→hash→64-partial-sums pipeline this replaces, which paid
    * a corpus-wide shuffle of 64 ints per doc. */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        tokenHash: TokenHash = xxTokenHash): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        X.simhashSignature(T.normText(col(textCol)), tokenHash.useMd5).as("sig"))

  /** SimHash LSH banding: the 64 signature bits as 4×16-bit chunks
    * (any shared chunk → candidate; catches hamming distance <= 3 by
    * pigeonhole). An array of 4 bucket longs, posexploded into
    * (band, bucket) by every SimHash candidate path. */
  def simhashBands(sig: Column): Column =
    array((0 until 4).map(b => shiftright(sig, b * 16).bitwiseAND(lit(0xFFFFL))): _*)

  /** SimHash near-dup pairs: [[simhashBands]] buckets (candidate
    * generation is EXACT for the default maxHamming=3 as long as no
    * bucket exceeds `maxBucketSize`), verified with exact hamming via
    * bit_count(xor) on the signatures carried through the buckets. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucketSize: Int = 1000,
                   tokenHash: TokenHash = xxTokenHash): DataFrame =
    hammingPairs(simhashSignatures(df, idCol, textCol, tokenHash), idCol, maxHamming, maxBucketSize)
      .select("id_l", "id_r", "hamming")

  /** The hamming-verified bucket pairs of an (id, sig, carry...)
    * relation: id_l, id_r, the carried `_l`/`_r` columns, hamming. */
  private def hammingPairs(sigs: DataFrame, idCol: String, maxHamming: Int, maxBucketSize: Int,
                           carry: Seq[String] = Nil): DataFrame = {
    val banded = sigs.select(col("*"), posexplode(simhashBands(col("sig"))).as(Seq("band", "bucket")))
    pairsFromBuckets(banded, idCol, Seq("band", "bucket"), maxBucketSize, carry = "sig" +: carry)
      .withColumn("hamming", bit_count(col("sig_l").bitwiseXOR(col("sig_r"))))
      .filter(col("hamming") <= maxHamming)
  }

  /** Persist the (content_hash, keep_id) store for incremental EXACT
    * dedup. */
  def writeExactState(df: DataFrame, idCol: String, textCol: String, path: String): Unit =
    df.select(md5(col(textCol)).as("content_hash"), col(idCol).as("keep_id"))
      .groupBy("content_hash").agg(min(col("keep_id")).as("keep_id"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)

  /** Incremental exact dedup: each NEW doc is either a duplicate of a
    * stored hash (dup_of = the stored keeper) or novel (dup_of null);
    * novel hashes are appended to the store. One hash-join against the
    * store — no old text touched, the O(batch) nightly shape. */
  def incrementalExact(newDocs: DataFrame, idCol: String, textCol: String,
                       statePath: String): DataFrame = {
    val spark = newDocs.sparkSession
    val state = spark.read.parquet(statePath)
    val hashed = newDocs.select(col(idCol), md5(col(textCol)).as("content_hash"))
    // localCheckpoint (not cache): the lineage must be SEVERED from the
    // store before we append to it — a cached plan can be re-evaluated
    // against the grown files and flag novel docs as their own dups
    val out = hashed.join(state, Seq("content_hash"), "left")
      .select(col(idCol), col("content_hash"), col("keep_id").as("dup_of"))
      .localCheckpoint(true)
    // novel hashes enter the store (min id among the new batch wins)
    out.filter(col("dup_of").isNull)
      .groupBy("content_hash").agg(min(col(idCol)).as("keep_id"))
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(statePath)
    out
  }

  /** Persist the (id, sig) SimHash signature store for incremental
    * dedup — 16 bytes/doc, the state a nightly pipeline carries
    * instead of re-signing the corpus. */
  def writeSimhashState(df: DataFrame, idCol: String, textCol: String, path: String,
                        tokenHash: TokenHash = xxTokenHash): Unit =
    simhashSignatures(df, idCol, textCol, tokenHash)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)

  /** Incremental SimHash dedup: near-dup pairs of a NEW batch against
    * itself and the persisted signature store — WITHOUT touching the
    * old corpus text (the store carries everything the verify needs).
    *
    * At 100 TB this is the only sane nightly shape: signature the new
    * batch (map-side expression), band-join it against the store
    * (shuffle ∝ |store|+|batch| small tuples), emit only pairs with a
    * new side. Old-old pairs were reported when THEIR batch arrived —
    * re-deriving them nightly would be O(corpus²/day) wasted work.
    * Re-submitting an already-stored id is a no-op: the stored
    * signature wins and the id is not a new side (see [[newSide]]), so
    * its pairs never re-emit. Appends the new signatures to the store
    * (the next night sees them). Returns (id_l, id_r, hamming) like
    * [[simhashPairs]]. */
  def incrementalSimhashPairs(newDocs: DataFrame, idCol: String, textCol: String,
                              statePath: String,
                              maxHamming: Int = 3, maxBucketSize: Int = 1000,
                              tokenHash: TokenHash = xxTokenHash): DataFrame = {
    val spark = newDocs.sparkSession
    val newSigs = simhashSignatures(newDocs, idCol, textCol, tokenHash).cache()
    val oldSigs = spark.read.parquet(statePath).select(col(idCol), col("sig"))
    val all = newSide(oldSigs, newSigs, idCol, Seq("sig"))
    val withNew = hammingPairs(all, idCol, maxHamming, maxBucketSize, carry = Seq(NewSide))
      .filter(hasNewSide)
      .select("id_l", "id_r", "hamming")
    // localCheckpoint severs the lineage from the store files BEFORE
    // the append grows them (a cached plan could re-evaluate against
    // the appended store and change the answer)
    val out = withNew.localCheckpoint(true)
    newSigs.join(oldSigs.select(col(idCol)), Seq(idCol), "left_anti")
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(statePath)
    newSigs.unpersist()
    out
  }

  /** Connected components over near-dup pairs: every doc ends up
    * labeled with the smallest id in its duplicate cluster. Each
    * distributed round propagates labels one hop (O(max component
    * diameter) rounds; throws rather than return split clusters if
    * maxIterations is hit); near-dup components are tiny, so 2-3
    * rounds in practice, and below `driverThreshold` edges a
    * path-compressed union-find on the driver skips the rounds
    * entirely. Returns (id, canonical_id) for every id in a pair,
    * already materialized — a driver-built local relation, or the
    * distributed rounds' sealed checkpoint — so its plan reads no
    * pair-side file and callers need no seal or cache of their own.
    * The pairs' one-direction distinct edge set is built once (cached
    * while it is counted and consumed); connectedComponents
    * symmetrizes it.
    *
    * Why 1M edges as the default driver cutoff: the collect ships
    * 16 B/edge = 16 MB, and the union-find holds ≤ 2M boxed
    * (Long → Long) map entries ≈ 150 B each ≈ 300 MB transient — well
    * inside a driver heap sized for Spark work, and far cheaper than
    * 2-3 full shuffle rounds of the distributed path at that size.
    * It is a DRIVER-memory bound, not a correctness bound: at 100 TB a
    * pathological corpus (mass-duplicated spam — every doc in some
    * pair) can exceed any driver constant, which is exactly when the
    * min-label fallback takes over with no bound beyond cluster
    * memory. Callers with small drivers should lower it; the
    * distributed branch is exercised by spec at driverThreshold = 0. */
  def canonicalize(pairs: DataFrame, maxIterations: Int = 10,
                   driverThreshold: Long = 1000000L): DataFrame = {
    val edges = pairs
      .select(least(col("id_l"), col("id_r")).as("src"), greatest(col("id_l"), col("id_r")).as("dst"))
      .distinct().cache()
    // released on every exit: neither path's result reads it
    try {
      // hybrid: the pair set is orders of magnitude smaller than the
      // corpus (it is ~the true-dup count); below the threshold a
      // driver-side union-find beats log-rounds of shuffle joins. Above
      // it, fall through to distributed min-label propagation.
      if (edges.count() <= driverThreshold) {
        val spark = pairs.sparkSession
        import spark.implicits._
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        val allIds = scala.collection.mutable.Set.empty[Long]
        // collect from the cached edges so the upstream pair pipeline
        // is not re-executed; self-loops are dropped here, above the
        // cache (connectedComponents drops its own): beneath it the
        // filter would be pushed into the pairs' plan and split it
        // from the pairs' other reads
        edges.filter(col("src") =!= col("dst"))
          .select(col("src").cast("long"), col("dst").cast("long")).collect().foreach { row =>
          allIds += row.getLong(0) += row.getLong(1)
          val (a, b) = (find(row.getLong(0)), find(row.getLong(1)))
          if (a != b) { val (lo, hi) = if (a < b) (a, b) else (b, a); parent(hi) = lo }
        }
        allIds.toSeq.sorted.map(id => (id, find(id))).toDF("id", "canonical_id")
      } else {
        // distributed path: one min-label-propagation implementation
        // lives in Graph.connectedComponents (sealed result, caches
        // dropped), which symmetrizes the cached edges itself
        try Graph.connectedComponents(edges, "src", "dst", maxIterations)
          .select(col("node").as("id"), col("component").as("canonical_id"))
        catch {
          case e: IllegalStateException =>
            throw new IllegalStateException(
              s"canonicalize did not converge in $maxIterations rounds — a duplicate " +
                s"chain longer than $maxIterations hops exists; raise maxIterations " +
                "(propagation is one hop per round)", e)
        }
      }
    } finally edges.unpersist()
  }

  /** End-to-end dedup decision: every doc id with the canonical id of
    * its duplicate cluster (itself when it has no duplicates) and a
    * keep flag. Compose with any pair generator. */
  def dedupeKeepList(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val canon = canonicalize(pairs)
    docs.select(col(idCol).as("id"))
      .join(canon, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("canonical_id"), col("id")).as("canonical_id"))
      .withColumn("keep", col("id") === col("canonical_id"))
  }

  /** Embedding near-dup: multi-table random-hyperplane LSH candidate
    * generation (same bucket in any table) then exact cosine verify.
    * Shuffle carries (id, table, bucket) longs — never the vectors.
    * `planes` overrides the default Gaussian hyperplanes (the gate
    * query passes LCG-derived planes the DuckDB oracle can rebuild).
    * Lazy, like [[minhashPairs]]: no job runs before an action.
    *
    * `dedupBeforeVerify`: where the cross-table duplicate-pair dedup
    * runs. `false` (default — right for a SELECTIVE threshold): raw
    * bucket pairs flow straight into the cosine verify and the
    * `.distinct()` runs on the filtered SURVIVORS — the duplicate cost
    * is ≤ nTables−1 extra 64-multiply cosines per pair, while the
    * avoided pre-verify distinct is a candidate-sized aggregation
    * (the sf10 ladder measured it at ~1750 CPU-s / 26 GB spill for
    * 182.7M candidates of which 460k survived). `true` (right when the
    * verify keeps ~everything, e.g. [[graft.operators.Similarity.knnGraph]]'s
    * threshold=−2): dedup before the verify joins so duplicates never
    * ride the vector-carrying pair exchange. Output rows are identical
    * either way — cosine is deterministic per pair, so distinct
    * commutes with the filter. */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                     threshold: Double = 0.4, nBits: Int = 8, nTables: Int = 8,
                     maxBucketSize: Int = 1000,
                     planes: Option[Array[Double]] = None,
                     dedupBeforeVerify: Boolean = false): DataFrame = {
    val bucketCol = planes match {
      case Some(p) => graft.functions.VectorExpressions.lshBucketsWith(col(vecCol), p, dim, nBits, nTables)
      case None    => V.lshBuckets(col(vecCol), dim, nBits, nTables)
    }
    val bucketed = df.select(col(idCol),
        posexplode(bucketCol).as(Seq("table", "bucket")))
    val cand = pairsFromBuckets(bucketed, idCol, Seq("table", "bucket"), maxBucketSize,
      dedup = dedupBeforeVerify)
    val vecs = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val verified = cand
      .join(vecs.select(col("__id").as("id_l"), col("__v").as("v_l")), "id_l")
      .join(vecs.select(col("__id").as("id_r"), col("__v").as("v_r")), "id_r")
      .select(col("id_l"), col("id_r"), V.cosineRounded(col("v_l"), col("v_r")).as("cosine"))
      .filter(col("cosine") >= threshold)
    if (dedupBeforeVerify) verified else verified.distinct()
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup via a coarse
    * quantizer — cluster the embeddings with the IVF centroid
    * machinery, generate candidate pairs ONLY within a cluster, verify
    * with exact cosine, and greedily drop the larger id of every
    * near-dup pair (keep-min — deterministic, engine-reproducible).
    * Complement to [[embeddingPairs]]: LSH OR-probing maximizes pair
    * recall; SemDeDup's single-assignment clustering bounds work at
    * ~corpus²/nCentroids and is the published recipe for pruning
    * semantically-redundant web data.
    *
    * Scale shape: centroid selection is one tiny driver collect;
    * assignment is a map-side codegen'd expression (no shuffle);
    * candidate generation shuffles (id, cell) only — never vectors —
    * with the per-cell cap bounding a degenerate cluster; the cosine
    * verify joins vectors for candidate ids only. nCentroids should
    * grow with the corpus (cells of ~10^4-10^5 docs) — the published
    * configuration uses 11k clusters for 500M docs.
    *
    * Returns every input id: (id, cell, keep). The centroid sample is
    * the one eager step (a driver collect); the pairs stay lazy. */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
               nCentroids: Int = 16, threshold: Double = 0.4,
               maxCellSize: Int = 10000, seed: Long = 42L,
               sampleKey: Option[Column => Column] = None): DataFrame = {
    val flat = Similarity.sampleCentroids(emb, idCol, vecCol, dim, nCentroids, seed, sampleKey)
    val c = flat.length / dim
    val cells = emb.select(col(idCol), col(vecCol).as("__v"),
      element_at(graft.functions.VectorExpressions.nearestCentroids(col(vecCol), flat, dim, c, 1), 1)
        .as("cell"))
    // dedup=false: with a SINGLE bucket column every id sits in exactly
    // one cell, so no pair can be emitted twice — the distinct was a
    // candidate-sized aggregation for nothing
    val cand = pairsFromBuckets(cells.select(col(idCol), col("cell")), idCol,
      Seq("cell"), maxCellSize, dedup = false)
    val vecs = cells.select(col(idCol).as("__id"), col("__v"))
    val dropped = cand
      .join(vecs.select(col("__id").as("id_l"), col("__v").as("v_l")), "id_l")
      .join(vecs.select(col("__id").as("id_r"), col("__v").as("v_r")), "id_r")
      .select(col("id_r"), V.cosineRounded(col("v_l"), col("v_r")).as("__cos"))
      .filter(col("__cos") >= threshold && !isnan(col("__cos")))
      .select(col("id_r").as(idCol)).distinct()
    cells.select(col(idCol), col("cell"))
      .join(dropped.withColumn("__drop", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("cell"), col("__drop").isNull.as("keep"))
  }
}
