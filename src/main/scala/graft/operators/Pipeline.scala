package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{PiiFunctions => P, TextExpressions => X, TextFunctions => T}

/** Corpus-preparation operators a training-data pipeline needs beyond
  * dedup/similarity: benchmark-contamination checks, deterministic
  * corpus splits, and keep-best-in-cluster selection.
  *
  * Scale notes (100 TB corpus):
  *   - contamination: the benchmark side is an eval suite — fixed size
  *     (≤ ~1e7 distinct n-grams even for large suites), so it is
  *     broadcast and the corpus side is never shuffled at all: shingle
  *     → explode → broadcast-semi-join → partial-aggregated count per
  *     doc. With `hashGrams` the join keys are 8-byte longs, never
  *     shingle text. For a benchmark too large to broadcast, drop the
  *     hint and AQE falls back to a shuffle join on the gram hash.
  *   - hashSplit: pure per-row arithmetic on the id — no shuffle, no
  *     state, stable under reruns/repartitioning (splits must not move
  *     when the corpus is re-read with different parallelism).
  *   - keepBest: one shuffle on the cluster key; duplicate clusters
  *     are small by construction (they are copies of one document), so
  *     the per-partition window never holds more than a cluster.
  */
object Pipeline {

  /** Deterministic 0..mod-1 bucket from md5 of seed:id — the portable
    * sampling primitive shared by [[hashSplit]], [[stratifiedSample]]
    * and [[corpusMix]]: stable across reruns, row order, partitioning,
    * and engines (DuckDB recomputes it exactly). Production pipelines
    * that never compare against another engine can swap xxhash64 in
    * via `bucketOf`. */
  def md5Bucket(id: Column, seed: String, mod: Int): Column =
    pmod(
      conv(substring(md5(concat(lit(s"$seed:"), id.cast("string"))), 1, 8), 16, 10)
        .cast("long"),
      lit(mod.toLong))

  /** xxhash64 twin of [[md5Bucket]] — ~3× cheaper per row, same
    * stability properties, not recomputable by the SQL oracle. */
  def xxBucket(id: Column, seed: String, mod: Int): Column =
    pmod(xxhash64(lit(seed), id.cast("string")), lit(mod.toLong))

  /** Benchmark-contamination check: for each corpus document, the
    * number (and fraction) of its distinct word-k-grams that appear
    * anywhere in the benchmark set — the standard train/test overlap
    * screen applied before training.
    *
    * Returns (idCol, n_shared, contam_ratio) for contaminated docs
    * only (n_shared >= 1). `hashGrams=true` (production) joins on
    * xxhash64 of the gram so the broadcast/build side and any
    * fallback shuffle carry longs, not text; `hashGrams=false` keeps
    * the gram string (used by the gate so the DuckDB oracle can
    * rebuild the identical sets).
    */
  def contamination(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, k: Int = 3,
                    hashGrams: Boolean = true): DataFrame = {
    def gram(c: Column): Column = if (hashGrams) xxhash64(c) else c
    val bench = benchmark
      .select(explode(array_distinct(T.shingles(col(textCol), k))).as("__gstr"))
      .select(gram(col("__gstr")).as("__g"))
      .distinct()
    corpus
      .select(col(idCol), array_distinct(T.shingles(col(textCol), k)).as("__gs"))
      .select(col(idCol), size(col("__gs")).as("__n_grams"), explode(col("__gs")).as("__gstr"))
      .select(col(idCol), col("__n_grams"), gram(col("__gstr")).as("__g"))
      .join(broadcast(bench), "__g")
      .groupBy(col(idCol), col("__n_grams"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col(idCol), col("n_shared"),
        round(col("n_shared").cast("double") / col("__n_grams"), 6).as("contam_ratio"))
  }

  /** Embedding-space contamination screen — the SEMANTIC twin of
    * [[contamination]]: n-gram matching misses paraphrased or
    * translated benchmark leakage; this flags every corpus doc whose
    * embedding lies within cosine ≥ `threshold` of ANY benchmark row.
    * Run both before training: n-grams catch verbatim/near-verbatim
    * inclusion, embeddings catch the reworded kind.
    *
    * Scale shape (the [[contamination]] contract, vector edition):
    * the benchmark side is an eval suite — fixed, small — so it is
    * broadcast and the corpus streams ONCE with a map-side cosine per
    * (doc, bench) pair; the per-doc aggregation is partial-agg'd
    * (count + max — at most |benchmark| rows per doc reach it, and
    * only for flagged docs). Nothing about the corpus is ever
    * shuffled except the flagged (id, cos) scalars. For a benchmark
    * too large to broadcast, pre-bucket both sides with the
    * [[graft.operators.Dedup.embeddingPairs]] LSH recipe instead.
    *
    * Output, contaminated docs only: (idCol, n_matches, max_cosine) —
    * max_cosine rounded 6 (the cosineRounded discipline), counts
    * exact. */
  def contaminationEmbedding(corpus: DataFrame, benchmark: DataFrame,
                             idCol: String, vecCol: String,
                             threshold: Double = 0.35): DataFrame = {
    // BOTH sides projected to fixed internal names before the cross
    // join (the dedup operators' aliasing discipline): a corpus that
    // already carries a `__bvec`/`__cos` column, or a benchmark whose
    // vecCol shadows a corpus column, can neither throw an
    // ambiguous-reference nor silently bind the wrong side
    val corp = corpus.select(col(idCol).as("__graft_id"), col(vecCol).as("__graft_v"))
    val bench = broadcast(benchmark.select(col(vecCol).as("__graft_bv")))
    corp.crossJoin(bench)
      .select(col("__graft_id"),
        graft.functions.VectorFunctions
          .cosineRounded(col("__graft_v"), col("__graft_bv")).as("__graft_cos"))
      .filter(!isnan(col("__graft_cos")) && col("__graft_cos") >= threshold)
      .groupBy(col("__graft_id"))
      .agg(count(lit(1)).as("n_matches"), max(col("__graft_cos")).as("max_cosine"))
      .withColumnRenamed("__graft_id", idCol)
  }

  /** Deterministic hash-based corpus split (train/val/test). The
    * bucket is derived from md5 of the id + seed, so the assignment is
    * stable across reruns, row order, partitioning, and engines —
    * the property a split must have so no document migrates between
    * train and test when the corpus is re-materialized.
    *
    * `fractions` are integer weights; the bucket space is their sum.
    */
  def hashSplit(df: DataFrame, idCol: String, seed: String = "split",
                fractions: Seq[(String, Int)] =
                  Seq("train" -> 80, "val" -> 10, "test" -> 10)): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 > 0), "positive weights")
    val total = fractions.map(_._2).sum
    val bucket = md5Bucket(col(idCol), seed, total)
    val bounds = fractions.scanLeft(0) { case (acc, (_, w)) => acc + w }.tail
    val named = fractions.map(_._1).zip(bounds)
    val split = named.init.reverse.foldLeft(lit(named.last._1): Column) {
      case (els, (nm, ub)) => when(col("__bucket") < ub, lit(nm)).otherwise(els)
    }
    df.select(col(idCol), bucket.as("__bucket"))
      .select(col(idCol), col("__bucket").as("bucket"), split.as("split"))
  }

  /** Keep the best representative of each duplicate cluster — the
    * usual refinement of keep-min-id dedup: cluster by normalized
    * content fingerprint, rank by a caller-supplied quality score
    * (descending), tie-break on id so the winner is deterministic.
    * Returns every input row with a `keep` flag.
    */
  def keepBestByFingerprint(docs: DataFrame, idCol: String, textCol: String,
                            score: Column): DataFrame = {
    val w = Window.partitionBy(col("__fp"))
      .orderBy(col("__score").desc, col(idCol).asc)
    docs
      .select(col(idCol), T.fingerprint(col(textCol)).as("__fp"), score.as("__score"))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col(idCol), col("keep"))
  }

  /** Per-stratum rate sampling: keep `pct`% of each stratum (language,
    * source, quality band...) — the standard move for downweighting an
    * over-represented language without touching the rest. Pure per-row
    * arithmetic (bucket from the id hash, rate from the stratum value)
    * — no shuffle, no corpus statistics, stable under reruns and
    * re-partitioning. Strata not listed get `defaultPct`.
    * Returns (id, stratum, bucket, keep) for every input row.
    */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       rates: Seq[(String, Int)], defaultPct: Int = 100,
                       seed: String = "strat",
                       bucketOf: (Column, String, Int) => Column = md5Bucket): DataFrame = {
    require((defaultPct +: rates.map(_._2)).forall(p => p >= 0 && p <= 100), "pct in 0..100")
    val rate = rates.foldRight(lit(defaultPct): Column) { case ((s, p), els) =>
      when(col(stratumCol) === s, lit(p)).otherwise(els)
    }
    df.select(col(idCol), col(stratumCol), bucketOf(col(idCol), seed, 100).as("bucket"))
      .withColumn("keep", col("bucket") < rate)
  }

  /** Mix a corpus to target stratum proportions WITHOUT upsampling:
    * integer weights define the target ratio; the largest corpus
    * honoring it keeps quota_s = w_s · m docs of stratum s, where
    * m = min_s floor(count_s / w_s). Within each stratum the quota is
    * filled by ascending id-hash rank, so the selection is a uniform,
    * deterministic, engine-reproducible subsample (all-integer
    * arithmetic — no floating-point rate can disagree at a boundary).
    * Strata with no weight are kept in the output with keep=false.
    *
    * Scale shape: counts are one partial-aggregated groupBy on the
    * stratum (tiny result, broadcast back); ranking is one window
    * partitioned by stratum ordered by the id hash — a sort-based
    * window that spills gracefully, and strata are the unit of
    * parallelism (for a corpus where one stratum dominates, pre-salt
    * the rank: rank within (stratum, salt) and take quota/nSalts per
    * salt bucket).
    * Returns (id, stratum, keep). */
  def corpusMix(df: DataFrame, idCol: String, stratumCol: String,
                weights: Seq[(String, Int)], seed: String = "mix"): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0), "positive weights")
    val wcol = weights.foldRight(lit(0): Column) { case ((s, w), els) =>
      when(col(stratumCol) === s, lit(w)).otherwise(els)
    }
    val m = df.select(col(stratumCol)).groupBy(col(stratumCol))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__w", wcol).filter(col("__w") > 0)
      .select(min(expr("__cnt div __w")).as("__m"))
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(concat(lit(s"$seed:"), col(idCol).cast("string"))).asc, col(idCol).asc)
    df.select(col(idCol), col(stratumCol))
      .withColumn("__rn", row_number().over(w))
      .crossJoin(broadcast(m))
      .select(col(idCol), col(stratumCol),
        (col("__rn") <= wcol * col("__m")).as("keep"))
  }

  /** Temperature-scaled corpus mixing — the multilingual-pretraining
    * α-sampling recipe (XLM-R / mT5 style, α = 1/2): stratum s
    * contributes quota_s = min(count_s, budget·w_s div Σw) docs with
    * w_s = ⌊√count_s⌋, which up-weights tail strata relative to
    * proportional sampling without ever upsampling — the standard
    * answer to "English is 1000× Swahili but must not be 1000× of the
    * mixture". Complements [[corpusMix]] (fixed target ratios) and
    * [[tokenMixToBudget]] (explicit per-source token budgets): here
    * the ratio is DERIVED from the corpus itself.
    *
    * Engine-exact despite the square root: the integer sqrt is
    * float-seeded then ±1-corrected by integer comparisons
    * ((s+1)² ≤ c / s² > c), so the float path only needs to land
    * within 1 of the truth — no boundary can disagree across engines.
    * Everything downstream is the corpusMix integer machinery: tiny
    * per-stratum counts broadcast back, quota filled by ascending
    * id-hash rank per stratum. Quota surplus from the count_s cap is
    * NOT redistributed to other strata (one-shot quota — documented
    * contract; run with a larger budget if the capped strata leave
    * too much unfilled). Returns (id, stratum, keep). */
  def corpusMixTemperature(df: DataFrame, idCol: String, stratumCol: String,
                           budget: Long, seed: String = "temp"): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    // NULL strata get no weight (they would inflate the denominator
    // without ever receiving quota — the join below can't match NULL
    // keys) and pass through keep=false, the corpusMix family
    // contract: every input row comes back, flagged
    val cnt = df.select(col(stratumCol)).filter(col(stratumCol).isNotNull)
      .groupBy(col(stratumCol))
      .agg(count(lit(1)).as("__cnt"))
    val s0 = floor(sqrt(col("__cnt").cast("double"))).cast("long")
    val isq = (s0 +
      when((s0 + 1) * (s0 + 1) <= col("__cnt"), 1L).otherwise(0L) -
      when(s0 * s0 > col("__cnt"), 1L).otherwise(0L)).as("__w")
    val ws = cnt.select(col(stratumCol), col("__cnt"), isq)
    val tot = ws.agg(sum(col("__w")).as("__tw"))
    val quota = ws.crossJoin(broadcast(tot))
      .select(col(stratumCol),
        least(col("__cnt"), expr(s"(${budget}L * __w) div __tw")).as("__q"))
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(concat(lit(s"$seed:"), col(idCol).cast("string"))).asc, col(idCol).asc)
    df.select(col(idCol), col(stratumCol))
      .withColumn("__rn", row_number().over(w))
      .join(broadcast(quota), Seq(stratumCol), "left")
      .select(col(idCol), col(stratumCol),
        coalesce(col("__rn") <= col("__q"), lit(false)).as("keep"))
  }

  /** Cross-document repeated-span detection: for each doc, how many of
    * its distinct word-k-grams occur in at least `minDocs` documents —
    * the boilerplate/template signal (site chrome, license headers,
    * SEO spam) that per-doc repetition and pairwise dedup both miss.
    *
    * Scale shape: per-doc distinct grams (map-side), ONE shuffle keyed
    * on the gram to count containing docs (count(*) == distinct docs
    * because grams are per-doc distinct), then a join back — AQE
    * broadcasts the shared-gram side when small. With `hashGrams`
    * (production) the grams are the native ShingleHashes 64-bit ids —
    * gram STRINGS are never materialized (the gram relation is
    * evaluated twice, for the count and the join back, so per-gram
    * work is paid double; hashed shingling measures ~20% cheaper per
    * pass than string shingling), and every exchange carries longs,
    * never text. The string variant exists for the DuckDB oracle; at
    * sf0.1 AQE happens to flip its join build side to the exploded
    * gram relation (fits in memory at toy scale only — the hashed
    * variant gets the scale-correct broadcast of the small shared-gram
    * aggregate). */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 5, minDocs: Int = 2,
                    hashGrams: Boolean = true): DataFrame = {
    val gramsCol =
      if (hashGrams) X.shingleHashes(T.normText(col(textCol)), k)
      else T.shingles(col(textCol), k)
    val ex = docs
      .select(col(idCol), array_distinct(gramsCol).as("__gs"))
      .select(col(idCol), size(col("__gs")).as("__n"), explode(col("__gs")).as("__g"))
    val shared = ex.groupBy(col("__g")).agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= minDocs).select(col("__g"))
    ex.join(shared, "__g")
      .groupBy(col(idCol), col("__n"))
      .agg(count(lit(1)).as("n_shared_spans"))
      .select(col(idCol), col("n_shared_spans"),
        round(col("n_shared_spans").cast("double") / col("__n"), 6).as("span_ratio"))
  }

  /** Unigram-frequency document scoring: how "typical" a document's
    * vocabulary is for the corpus. Two passes — corpus unigram counts
    * (one partial-aggregated groupBy on the token), then each doc's
    * token stream joined against the counts and re-aggregated per doc.
    * Emits exact integer signals (n_tokens, freq_sum, min_freq — the
    * rarest-token count is the strongest garbage flag) plus the
    * rounded mean. All-integer until the final ratio, so the result is
    * engine-exact; the classic mean-log-prob variant of the same
    * relation is [[unigramLogProb]] (production scoring — transcendental,
    * so not oracle-comparable bit-for-bit).
    *
    * `hashTokens` (production) makes both shuffles carry xxhash64
    * longs instead of token strings — same counts modulo ~2^-64
    * collisions. */
  def unigramScore(docs: DataFrame, idCol: String, textCol: String,
                   hashTokens: Boolean = false): DataFrame = {
    val tokCol = explode(T.tokens(col(textCol))).as("__ts")
    val tok = docs.select(col(idCol), tokCol)
      .select(col(idCol), (if (hashTokens) xxhash64(col("__ts")) else col("__ts")).as("__t"))
    val freq = tok.groupBy(col("__t")).agg(count(lit(1)).as("__f"))
    tok.join(freq, "__t")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__f")).as("freq_sum"),
        min(col("__f")).as("min_freq"))
      .select(col(idCol), col("n_tokens"), col("freq_sum"), col("min_freq"),
        round(col("freq_sum").cast("double") / col("n_tokens"), 6).as("avg_freq"))
  }

  /** Split each document into overlapping token-window chunks — the
    * standard pre-embedding / pre-training windowing (stride =
    * chunkSize - overlap; the final partial window is kept; a doc
    * shorter than one stride yields exactly one chunk). Pure map-side
    * explode — no shuffle, chunk count derived per row with integer
    * arithmetic only, so chunk identity is stable across engines and
    * re-partitionings.
    * Output: (id, chunk_idx, n_chunk_tokens, chunk_text). */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > overlap && overlap >= 0, "need chunkSize > overlap >= 0")
    val stride = chunkSize - overlap
    val toks = T.tokens(col(textCol))
    docs
      // ceil((n - overlap) / stride) in pure integer arithmetic (div),
      // min 1 — float division could round a boundary the wrong way
      .select(col(idCol), toks.as("__toks"),
        (size(toks) - lit(overlap) + lit(stride - 1)).as("__num"))
      .select(col(idCol), col("__toks"),
        greatest(lit(1), expr(s"__num div $stride")).cast("int").as("__nc"))
      .select(col(idCol), col("__toks"),
        posexplode(sequence(lit(0), col("__nc") - 1)).as(Seq("chunk_idx", "__i")))
      .select(col(idCol), col("chunk_idx"),
        slice(col("__toks"), col("__i") * stride + 1, lit(chunkSize)).as("__ct"))
      .select(col(idCol), col("chunk_idx"),
        size(col("__ct")).as("n_chunk_tokens"),
        concat_ws(" ", col("__ct")).as("chunk_text"))
  }

  /** Sequence-packing layout: concatenate every document's tokens into
    * one stream per shard (ascending id order — deterministic) and cut
    * the stream every `contextLen` tokens — the concat-and-split
    * packing GPT-style pretraining uses (no padding waste; a document
    * may straddle two windows). Emits, per doc, where its tokens land:
    * (id, shard, n_tokens, first_bin, last_bin, offset_in_bin).
    *
    * Scale shape: the running sum is a window per SHARD (sort-based,
    * spills) — shards are the unit of parallelism, exactly how a 100
    * TB corpus is packed in practice (each writer task packs its own
    * shard; no global sequential dependency). All-integer arithmetic.
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    contextLen: Int, nShards: Int = 32): DataFrame = {
    require(contextLen > 0 && nShards > 0)
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col(idCol), pmod(col(idCol), lit(nShards.toLong)).as("shard"),
        T.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      // integer div, not float division: bin ids must be exact
      .select(col(idCol), col("shard"), col("n_tokens"),
        expr(s"(__cum - n_tokens) div $contextLen").as("first_bin"),
        expr(s"(__cum - 1) div $contextLen").as("last_bin"),
        pmod(col("__cum") - col("n_tokens"), lit(contextLen.toLong)).as("offset_in_bin"))
  }

  /** Deterministic line-ization of an unstructured corpus: fixed
    * non-overlapping `lineTokens`-token windows per doc, via
    * [[chunkTokens]] with zero overlap — the unit relation
    * [[lineDedup]] consumes when the corpus has no natural line
    * structure. Output: (id, line_idx, line). */
  def linify(docs: DataFrame, idCol: String, textCol: String,
             lineTokens: Int): DataFrame =
    chunkTokens(docs, idCol, textCol, chunkSize = lineTokens, overlap = 0)
      .select(col(idCol), col("chunk_idx").as("line_idx"), col("chunk_text").as("line"))

  /** Line-level corpus dedup (RefinedWeb/CCNet lineage): a line
    * occurring in >= `minDocs` DISTINCT documents is boilerplate
    * (site chrome, license headers, nav text) and is dropped from
    * every document containing it. Catches the cross-doc repeated
    * material that whole-doc dedup (the docs differ) and within-doc
    * repetition (the line appears once per doc) both miss — and
    * unlike [[repeatedSpans]] it REWRITES the corpus, emitting the
    * cleaned text.
    *
    * Input is any (id, line_idx, line) relation — natural newline
    * splits, sentence splits, or [[linify]] windows. Output per doc:
    * (id, n_lines, n_dup_lines, dup_ratio, clean_text).
    *
    * Scale shape: duplicate detection is distinct (id, key) map-side →
    * one partial-aggregated groupBy on the line key → the (small)
    * boilerplate-key set joins back (AQE broadcasts it when it fits).
    * With `hashLines` (production) every exchange carries an 8-byte
    * xxhash64 key, never line text; reconstruction shuffles each doc's
    * surviving lines once — linear in corpus size, and unavoidable
    * because the cleaned text IS the output. */
  def lineDedup(lines: DataFrame, idCol: String, idxCol: String, lineCol: String,
                minDocs: Int = 2, hashLines: Boolean = true): DataFrame = {
    val key = if (hashLines) xxhash64(col(lineCol)) else col(lineCol)
    val ln = lines.select(col(idCol), col(idxCol), col(lineCol), key.as("__k"))
    val dup = ln.select(col(idCol), col("__k")).distinct()
      .groupBy(col("__k")).agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col("__k"), lit(true).as("__dup"))
    val marked = ln.join(dup, Seq("__k"), "left")
      .select(col(idCol), col(idxCol), col(lineCol),
        coalesce(col("__dup"), lit(false)).as("__dup"))
    marked.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_lines"),
      sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dup_lines"),
      // ordered reconstruction: sort (idx, line-or-null) structs by
      // idx, project the line; array_join drops the nulled dup lines
      array_join(transform(
        array_sort(collect_list(struct(col(idxCol).as("i"),
          when(!col("__dup"), col(lineCol)).as("l")))),
        e => e.getField("l")), " ").as("clean_text"))
      .select(col(idCol), col("n_lines"), col("n_dup_lines"),
        round(col("n_dup_lines").cast("double") / col("n_lines"), 6).as("dup_ratio"),
        col("clean_text"))
  }

  /** End-to-end corpus preparation — the one-call pipeline from raw
    * documents to a training-ready export, composing the
    * already-specced operators in the order a production run uses:
    *  1. quality gate — token-count range, stopword floor, repetition
    *     ceiling (the Gopher-style conjunction of text_quality_filter),
    *  2. PII scrub — class tokens substituted in place,
    *  3. exact dedup — one representative (min id) per normalized
    *     fingerprint,
    *  4. near-dup removal — simhash pairs → connected components →
    *     keep the min-id member,
    *  5. deterministic shuffle+shard export layout.
    * Returns (idCol, textCol [scrubbed], shard, pos) of survivors.
    *
    * Scale notes: stages 1–2 are pure map work fused into the scan
    * projection (the quality predicates drop most of a raw crawl
    * before anything shuffles); stage 3 shuffles (fingerprint, id,
    * text-after-scrub) once; stage 4 is the bucketed simhash shape
    * (signatures, never text, in its exchanges); stage 5 adds one
    * window partitioned by shard. */
  def prepareCorpus(docs: DataFrame, idCol: String, textCol: String,
                    nShards: Int = 16,
                    minTokens: Int = 20, maxTokens: Int = 1000,
                    minStopwordRatio: Double = 0.05, maxRepetition: Double = 0.2,
                    maxHamming: Int = 3,
                    tokenHash: Dedup.TokenHash = Dedup.xxTokenHash,
                    hashedShard: Boolean = true): DataFrame = {
    val cleaned = qualityScrub(docs, idCol, textCol, minTokens, maxTokens,
      minStopwordRatio, maxRepetition)
    val wFp = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    // cached: three consumers (simhash pairs, keep-list, final join)
    // would otherwise re-run the quality filter + regex scrub + dedup
    // window each — the scrub regexes dominate the pipeline's cost.
    // Session-scoped cache (Bench clearCache()s between queries).
    val exact = cleaned
      .withColumn("__fp", md5(T.normText(col(textCol))))
      .withColumn("__rn", row_number().over(wFp))
      .filter(col("__rn") === 1).drop("__fp", "__rn")
      .cache()
    val pairs = Dedup.simhashPairs(exact, idCol, textCol, maxHamming = maxHamming,
      tokenHash = tokenHash)
    val keepIds = Dedup.dedupeKeepList(exact, pairs, idCol)
      .filter(col("keep")).select(col("id").as(idCol))
    val kept = exact.join(keepIds, idCol).cache()
    // layout-side estimate bound: see exportLayout
    shuffleShard(kept.select(col(idCol)), idCol, nShards, hashed = hashedShard)
      .join(kept.select(col(idCol), col(textCol)), idCol)
      .select(col(idCol), col(textCol), col("shard"), col("pos"))
  }

  /** Run independent driver-side Spark actions concurrently (guide
    * §2.6 "overlap independent jobs"): the scheduler runs several jobs
    * at once inside one application — actions are only sequential
    * because driver code calls them sequentially — so the next job's
    * tasks back-fill task slots idled by the current job's straggler
    * tail and the per-job scheduling floors overlap instead of adding.
    * Fresh threads per call (not a shared pool): callers overlap 2-3
    * store writes, and a pool built once would freeze whichever
    * caller's inheritable thread-locals (job group/description) it was
    * created under. Every task runs to completion; the first failure
    * is rethrown only after ALL finish, so a caller never proceeds to
    * a downstream step while a sibling write is still in flight, with
    * every other failure attached as suppressed. Fatal errors are
    * caught too: left uncaught in a worker thread they would vanish
    * and the caller would proceed. */
  private[operators] def inParallel(tasks: (() => Unit)*): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = tasks.zipWithIndex.map { case (t, i) =>
      val th = new Thread(() => try t() catch { case e: Throwable => errs.add(e) },
        s"graft-parallel-$i")
      th.start(); th
    }
    threads.foreach(_.join())
    Option(errs.poll()).foreach { first =>
      errs.forEach(e => if (e ne first) first.addSuppressed(e))
      throw first
    }
  }

  /** Stages 1–2 of corpus preparation (quality gate + PII scrub) —
    * pure map work fused into the scan projection, shared by the full
    * and incremental paths. */
  private def qualityScrub(docs: DataFrame, idCol: String, textCol: String,
                           minTokens: Int, maxTokens: Int,
                           minStopwordRatio: Double, maxRepetition: Double): DataFrame = {
    val q = T.qualityStruct(col(textCol))
    docs
      .filter(q.getField("n_tokens").between(minTokens, maxTokens) &&
        q.getField("stopword_ratio") >= minStopwordRatio &&
        T.repetitionRatio(col(textCol), 3) < maxRepetition)
      .withColumn(textCol, P.scrub(col(textCol)))
  }

  /** Build the initial corpus-prep STATE for
    * [[prepareCorpusIncremental]] — the relations a nightly pipeline
    * carries so the next crawl batch is processed O(batch), never
    * O(corpus):
    *   - `fp/` (content_hash, keep_id): one row per distinct
    *     normalized fingerprint among QUALITY-survivors (min id) — a
    *     new doc matching any previously-seen fingerprint is an exact
    *     dup of that fingerprint's keeper;
    *   - `sigs/` (id, sig): SimHash signatures of every EXACT-dedup
    *     survivor — near-dup LOSERS included, because a new doc
    *     near-dupping a dropped old doc belongs to that doc's cluster
    *     in a full rebuild;
    *   - `canon/` (id, canonical_id): the near-dup cluster membership
    *     (non-self rows only) — the contraction map that lets the
    *     incremental path reconstruct full-rebuild components without
    *     storing old-old edges;
    *   - `survivors/` (id, text): the exported documents (scrubbed).
    * Returns the initial export (identical to [[prepareCorpus]] on the
    * same inputs). */
  def writeCorpusState(docs: DataFrame, idCol: String, textCol: String,
                       stateDir: String, nShards: Int = 16,
                       minTokens: Int = 20, maxTokens: Int = 1000,
                       minStopwordRatio: Double = 0.05, maxRepetition: Double = 0.2,
                       maxHamming: Int = 3,
                       tokenHash: Dedup.TokenHash = Dedup.xxTokenHash,
                       hashedShard: Boolean = true): DataFrame = {
    import org.apache.spark.sql.SaveMode
    val cleaned = qualityScrub(docs, idCol, textCol, minTokens, maxTokens,
      minStopwordRatio, maxRepetition)
    val hashed = cleaned.withColumn("__fp", md5(T.normText(col(textCol)))).cache()
    val wFp = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    val exact = hashed
      .withColumn("__rn", row_number().over(wFp))
      .filter(col("__rn") === 1).drop("__fp", "__rn")
      .cache()
    // fp and sigs derive from independent subtrees of the shared cached
    // base — write them CONCURRENTLY (guide §2.6; inParallel scaladoc).
    // This is a fresh-directory REBUILD with no mid-run crash contract
    // (a crash at any point = rerun the build), so write ordering is
    // free to overlap; content is unchanged. Concurrent first
    // materialization of the shared caches is safe: the block manager
    // computes each partition once and blocks the second consumer.
    inParallel(
      () => hashed.groupBy(col("__fp").as("content_hash"))
        .agg(min(col(idCol)).as("keep_id"))
        .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/fp"),
      () => Dedup.simhashSignatures(exact, idCol, textCol, tokenHash)
        .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/sigs"))
    val pairs = Dedup.simhashPairs(exact, idCol, textCol, maxHamming = maxHamming,
      tokenHash = tokenHash)
    val canon = Dedup.canonicalize(pairs)
    val keepIds = exact.select(col(idCol).as("id"))
      .join(canon, Seq("id"), "left")
      .filter(col("canonical_id").isNull || col("canonical_id") === col("id"))
      .select(col("id").as(idCol))
    // canon and survivors both read only materialized bases (canon
    // comes back materialized, exact is cached) — the second
    // independent write pair
    inParallel(
      () => canon.filter(col("canonical_id") =!= col("id"))
        .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/canon"),
      () => exact.join(keepIds, idCol).select(col(idCol), col(textCol))
        .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/survivors"))
    hashed.unpersist(); exact.unpersist()
    exportLayout(docs.sparkSession, stateDir, idCol, textCol, nShards, hashedShard)
  }

  /** Shard/pos layout over the survivor store: an ID-ONLY pass (hash +
    * per-shard rank over ~16 B rows) with the text joined back from
    * the store — the one stage that legitimately runs over the full
    * corpus on every crawl, because positions are a function of the
    * whole survivor set. At 100 TB this is hash arithmetic on ids,
    * orders of magnitude under the text stages the incremental path
    * avoids. */
  private def exportLayout(spark: org.apache.spark.sql.SparkSession, stateDir: String,
                           idCol: String, textCol: String,
                           nShards: Int, hashedShard: Boolean): DataFrame = {
    val surv = spark.read.parquet(s"$stateDir/survivors")
    // The shard-layout side is window-built over an id-only scan, so
    // its static estimate is the PRUNED-column scan size — an honest
    // lower bound that GROWS with the corpus (24 B/doc true vs ~8 B/doc
    // estimated: a bounded ×3 error, unlike a Generate pair explosion's
    // unbounded one). A mis-broadcast is therefore impossible past
    // ~4M survivors (estimate crosses the 10 MB threshold) and merely
    // suboptimal below it — so no join hint: at bench scale the planner
    // broadcasts the tiny layout relation and the corpus text is never
    // shuffled (the r15 shuffle_hash hint here forced a full-text
    // exchange per export and cost ~0.5 s on every corpus-state gate).
    shuffleShard(surv.select(col(idCol)), idCol, nShards, hashed = hashedShard)
      .join(surv, idCol)
      .select(col(idCol), col(textCol), col("shard"), col("pos"))
  }

  /** Incremental corpus preparation — the nightly-crawl shape: process
    * ONLY the new batch (quality gate, scrub, exact dedup vs the
    * fingerprint store, near-dup dedup vs the signature store),
    * append the survivors, and emit the updated export.
    *
    * Equals a full [[prepareCorpus]] rebuild on old ∪ new (proven by
    * the corpus_incremental gate, whose DuckDB oracle replays the full
    * rebuild) provided batch ids are previously unseen and larger than
    * every stored id — min-id cluster reps then never move DOWN into
    * the batch. A batch doc that near-dup-BRIDGES two old clusters is
    * handled the way a rebuild would: components are computed over the
    * cluster-CONTRACTED graph (old endpoints mapped through the stored
    * `canon/` map), the merged cluster keeps the smallest old rep, and
    * the larger old reps are RETRACTED from the survivor store — the
    * correction an append-only pipeline silently skips.
    *
    * Scale shape per batch: every stage is O(batch ∪ pairs) except the
    * store joins (hash-partitioned on fingerprint / band-bucket /
    * canonical longs, ~16-24 B per stored doc — never old text) and
    * the id-only export layout ([[exportLayout]]). The text of the old
    * corpus is never re-read. */
  def prepareCorpusIncremental(spark: org.apache.spark.sql.SparkSession, stateDir: String,
                               newDocs: DataFrame, idCol: String, textCol: String,
                               nShards: Int = 16,
                               minTokens: Int = 20, maxTokens: Int = 1000,
                               minStopwordRatio: Double = 0.05, maxRepetition: Double = 0.2,
                               maxHamming: Int = 3,
                               tokenHash: Dedup.TokenHash = Dedup.xxTokenHash,
                               hashedShard: Boolean = true): DataFrame = {
    import org.apache.spark.sql.SaveMode
    val cleaned = qualityScrub(newDocs, idCol, textCol, minTokens, maxTokens,
      minStopwordRatio, maxRepetition)
    // exact stage: min-id winner per NEW fingerprint, then drop
    // fingerprints the corpus has already seen (one hash-join against
    // the store); localCheckpoint severs the lineage from the store
    // files BEFORE the append grows them
    val fpStore = spark.read.parquet(s"$stateDir/fp")
    val wFp = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    val hashed = cleaned.withColumn("__fp", md5(T.normText(col(textCol))))
      .withColumn("__rn", row_number().over(wFp))
      .filter(col("__rn") === 1).drop("__rn")
    val exactNew = hashed
      .join(fpStore.select(col("content_hash").as("__fp")), Seq("__fp"), "left_anti")
      .localCheckpoint(true)
    exactNew.select(col("__fp").as("content_hash"), col(idCol).as("keep_id"))
      .write.mode(SaveMode.Append).parquet(s"$stateDir/fp")
    val exactKept = exactNew.drop("__fp").cache()
    // near-dup stage: batch-vs-batch and batch-vs-store pairs (the
    // incremental band join — appends the batch signatures to the
    // store as a side effect)
    val pairs = Dedup.incrementalSimhashPairs(exactKept, idCol, textCol,
      s"$stateDir/sigs", maxHamming = maxHamming, tokenHash = tokenHash)
    // cluster contraction: old endpoints map through their stored
    // canonical (clusters collapse to their rep; the rep IS the
    // cluster min), so CC over these edges reproduces the full
    // rebuild's component minima without any old-old edges
    val canonStore = spark.read.parquet(s"$stateDir/canon")
    val flags = exactKept.select(col(idCol).as("__id"), lit(true).as("__new"))
    val marked = pairs
      .join(flags.select(col("__id").as("id_l"), col("__new").as("__l_new")), Seq("id_l"), "left")
      .join(flags.select(col("__id").as("id_r"), col("__new").as("__r_new")), Seq("id_r"), "left")
      .join(canonStore.select(col("id").as("id_l"), col("canonical_id").as("__cl")), Seq("id_l"), "left")
      .join(canonStore.select(col("id").as("id_r"), col("canonical_id").as("__cr")), Seq("id_r"), "left")
    val edges = marked.select(
        when(coalesce(col("__l_new"), lit(false)), col("id_l"))
          .otherwise(coalesce(col("__cl"), col("id_l"))).as("id_l"),
        when(coalesce(col("__r_new"), lit(false)), col("id_r"))
          .otherwise(coalesce(col("__cr"), col("id_r"))).as("id_r"))
      .filter(col("id_l") =!= col("id_r"))
    // canonicalize returns materialized rows: nothing below reads the
    // canon store files through cc, so their overwrite is safe
    val cc = Dedup.canonicalize(edges)
    // batch doc kept iff it is its component's minimum — a component
    // containing ANY old node has an old (smaller) minimum
    val keepIds = exactKept.select(col(idCol))
      .join(cc.select(col("id").as(idCol), col("canonical_id")), Seq(idCol), "left")
      .filter(col("canonical_id").isNull || col("canonical_id") === col(idCol))
      .select(col(idCol))
    // no seal needed here (r16): newKept's only consumer is the
    // updatedSurv union below, which is itself sealed BEFORE the
    // survivors overwrite, and newKept's lineage roots are already
    // sealed/cached relations (exactNew via exactKept, cc) — never the
    // store files being rewritten. The checkpoint was one blocking
    // batch-text materialization per increment for nothing.
    val newKept = exactKept.join(keepIds, Seq(idCol), "left_semi")
      .select(col(idCol), col(textCol))
    // bridge retraction: an OLD cluster rep whose merged component has
    // a smaller minimum loses — exactly the doc a rebuild would drop
    val moved = cc.filter(col("canonical_id") < col("id"))
    val retracted = moved.select(col("id"))
      .join(exactKept.select(col(idCol).as("id")), Seq("id"), "left_anti")
    // The two store-refresh chains are independent — the survivors
    // chain reads only survivors/ files + sealed/cached relations, the
    // canon chain only canon/ files + the same sealed bases — so each
    // chain's seal-then-overwrite runs on its own thread (guide §2.6):
    // the two blocking localCheckpoint barriers and the two write jobs
    // overlap instead of adding. Ordering between the chains carries no
    // crash contract to preserve: these are plain SaveMode.Overwrite
    // relations (not StoreProtocol-staged), so a crash DURING either
    // overwrite already corrupts that relation regardless of inter-
    // chain order, and the pinned redelivery-idempotence contract
    // (StreamingSpec "corpusStream: replayed crawl batches…") keys on
    // the fp store, whose append strictly precedes everything here.
    inParallel(
      () => {
        val updatedSurv = spark.read.parquet(s"$stateDir/survivors")
          .join(retracted.select(col("id").as(idCol)), Seq(idCol), "left_anti")
          .union(newKept).localCheckpoint(true)
        updatedSurv.write.mode(SaveMode.Overwrite).parquet(s"$stateDir/survivors")
      },
      () => {
        // canon store update: re-point members of merged clusters at the
        // new minimum, then add this round's non-self rows (dropped batch
        // docs and retracted reps) for future batches
        val movedMap = moved.select(col("id").as("canonical_id"), col("canonical_id").as("__m"))
        val repointed = canonStore
          .join(movedMap, Seq("canonical_id"), "left")
          .select(col("id"), coalesce(col("__m"), col("canonical_id")).as("canonical_id"))
        val fresh = cc.filter(col("canonical_id") =!= col("id"))
          .join(repointed.select(col("id")), Seq("id"), "left_anti")
        val newCanon = repointed.union(fresh.select(col("id"), col("canonical_id")))
          .localCheckpoint(true)
        newCanon.write.mode(SaveMode.Overwrite).parquet(s"$stateDir/canon")
      })
    exactKept.unpersist()
    exportLayout(spark, stateDir, idCol, textCol, nShards, hashedShard)
  }

  /** Deterministic k-per-stratum sample — the "give me k docs per
    * language/source" primitive for eyeballing, eval-set carving and
    * balanced subcorpora. Rank = bounded-heap [[graft.functions.TopKAggregate]]
    * over the id-hash order: each map task feeds AT MOST k rows per
    * stratum into the exchange (vs a full per-stratum sort/window over
    * the corpus), and the hash order makes the sample unbiased w.r.t.
    * any data attribute and stable across reruns/partitionings/
    * engines. Gate mode hashes 32 md5 bits (exact in the heap's
    * double); `hashed=true` ranks by xxhash64 (cheaper; order after
    * the long→double rounding is still deterministic, ties broken by
    * id). Output: (groupCol, idCol, rank). */
  def topKPerGroup(df: DataFrame, groupCol: String, idCol: String, k: Int,
                   seed: String = "tk", hashed: Boolean = false): DataFrame = {
    val h = if (hashed) xxhash64(lit(s"$seed:"), col(idCol).cast("string"))
      else conv(substring(md5(concat(lit(s"$seed:"), col(idCol).cast("string"))), 1, 8), 16, 10).cast("long")
    df.select(col(groupCol), col(idCol), h.as("__h"))
      .groupBy(col(groupCol))
      .agg(graft.functions.TopKAggregate.topK(col("__h").cast("double"), col(idCol).cast("long"), k).as("__top"))
      .select(col(groupCol), posexplode(col("__top")).as(Seq("__r", "__e")))
      .select(col(groupCol), col("__e.id").as(idCol), (col("__r") + 1).cast("int").as("rank"))
  }

  /** PMI-style collocation mining: corpus bigram counts with both
    * unigram margins and the corpus token total attached — everything
    * a consumer needs for PMI = log(n_xy·N / (n_x·n_y)) or a
    * log-likelihood ratio without another corpus pass. The gate emits
    * the exact integer counts; [[collocationsPmi]] adds the
    * transcendental PMI value (benched, not gated).
    *
    * Scale shape: bigrams are built MAP-SIDE by zipping each token
    * array with its own tail (no self-join, no positions shuffled);
    * the shuffles are the partial-agg groupBys on the bigram /
    * unigram keys, and the ≥minCount bigram survivors join the
    * (much smaller) unigram margin relation. `hashTokens=true`
    * shuffles xxhash64 longs, never token text.
    * Output: (w1, w2, n_xy, n_x, n_y, n_total). */
  def collocations(docs: DataFrame, textCol: String, minCount: Int = 5,
                   hashTokens: Boolean = false): DataFrame = {
    def h(c: Column): Column = if (hashTokens) xxhash64(c) else c
    val toks = docs.select(T.tokens(col(textCol)).as("__ts"))
    val n1 = greatest(size(col("__ts")) - 1, lit(0))
    val bi = toks.select(explode(zip_with(
        slice(col("__ts"), lit(1), n1), slice(col("__ts"), lit(2), n1),
        (a, b) => struct(h(a).as("w1"), h(b).as("w2")))).as("__bi"))
      .select(col("__bi.w1").as("w1"), col("__bi.w2").as("w2"))
    val nxy = bi.groupBy("w1", "w2").agg(count(lit(1)).as("n_xy"))
      .filter(col("n_xy") >= minCount)
    val uni = toks.select(explode(col("__ts")).as("__w")).select(h(col("__w")).as("__w"))
    val nw = uni.groupBy("__w").agg(count(lit(1)).as("__n"))
    val tot = uni.agg(count(lit(1)).as("n_total"))
    nxy
      .join(nw.select(col("__w").as("w1"), col("__n").as("n_x")), "w1")
      .join(nw.select(col("__w").as("w2"), col("__n").as("n_y")), "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("n_xy"), col("n_x"), col("n_y"), col("n_total"))
  }

  /** Bigram language-model quality score — the KenLM/CCNet-style
    * fluency filter, as far as it goes without smoothing: train
    * bigram conditional rates on the corpus itself and score each doc
    * by its mean P(w_i | w_{i-1}) in integer fixed-point
    * (p_fp = c_xy·scale div c_x→, with c_x→ = Σ_y c_xy the bigram
    * FROM-margin — derived from the same relation, no second corpus
    * pass). Word-salad text scores low (its bigrams are rare given
    * their head), templated text high — the conditional complement of
    * [[dsirScore]]'s marginal ratios and [[collocations]]' PMI. All
    * integer: sums and the final floor division are order-free and
    * engine-exact. Docs with fewer than two tokens have no bigram and
    * are absent (the caller's null-policy, like classifyCentroid's
    * no-shared-token docs).
    *
    * Scale shape: bigrams built map-side (token array zipped with its
    * own tail — no self-join), model and margins are partial-agg'd
    * groupBys on the bigram/head keys; the scoring join is
    * bigram-keyed, so the shuffle carries (id, w1, w2, n) — strings in
    * gate mode, xxhash64 longs with `hashTokens=true` (the production
    * path; the model is a RELATION, vocab² never collects).
    * Output: (idCol, n_bigrams, p_sum, avg_p_fp). */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String,
                    scale: Long = 1L << 20, hashTokens: Boolean = false): DataFrame = {
    require(scale > 0, "scale must be positive")
    def h(c: Column): Column = if (hashTokens) xxhash64(c) else c
    val toks = docs.select(col(idCol), T.tokens(col(textCol)).as("__ts"))
    val n1 = greatest(size(col("__ts")) - 1, lit(0))
    val bi = toks.select(col(idCol), explode(zip_with(
        slice(col("__ts"), lit(1), n1), slice(col("__ts"), lit(2), n1),
        (a, b) => struct(h(a).as("w1"), h(b).as("w2")))).as("__bi"))
      .select(col(idCol), col("__bi.w1").as("w1"), col("__bi.w2").as("w2"))
    val nxy = bi.groupBy("w1", "w2").agg(count(lit(1)).as("__cxy"))
    val marg = nxy.groupBy("w1").agg(sum(col("__cxy")).as("__cx"))
    val model = nxy.join(marg, "w1")
      .select(col("w1"), col("w2"), expr(s"__cxy * ${scale}L div __cx").as("__p"))
    val dbi = bi.groupBy(col(idCol), col("w1"), col("w2")).agg(count(lit(1)).as("__n"))
    dbi.join(model, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(sum(col("__n")).as("n_bigrams"), sum(col("__n") * col("__p")).as("p_sum"))
      .select(col(idCol), col("n_bigrams"), col("p_sum"),
        expr("p_sum div n_bigrams").as("avg_p_fp"))
  }

  /** Production collocation scoring: hashed tokens + pointwise mutual
    * information. Counts are cast to double BEFORE multiplying (n_x·n_y
    * overflows a long at corpus scale in integer space). log() is
    * transcendental → benched, not gated. */
  def collocationsPmi(docs: DataFrame, textCol: String, minCount: Int = 5): DataFrame =
    collocations(docs, textCol, minCount, hashTokens = true)
      .withColumn("pmi",
        log(col("n_xy").cast("double") * col("n_total").cast("double") /
          (col("n_x").cast("double") * col("n_y").cast("double"))))

  /** Deterministic corpus shuffle + shard layout — the training-data
    * export step: break source/crawl locality so each output shard is
    * an unbiased sample of the corpus. Shard = hash bucket of the id
    * (map-side, no coordination); position = rank of the hash WITHIN
    * the shard. The global permutation is realized WITHOUT a global
    * sort: the only non-map work is one row_number window partitioned
    * by shard — each shard ranks its own 1/nShards slice
    * independently, so the layout scales to any corpus that shards
    * evenly (and nShards is the writer's parallelism knob).
    *
    * Hash-seeded, so the permutation is stable across reruns, row
    * order, partitioning, and engines (gate mode md5; `hashed=true`
    * production mode xxhash64, ~3× cheaper, not oracle-recomputable).
    * Output: (id, shard, pos). */
  /** Export manifest for a [[shuffleShard]] layout — the artifact a
    * training job consumes before reading a single shard: per shard,
    * document and token/char totals plus a CONTENT fingerprint that
    * pins both the documents and their positions. The fingerprint is
    * a SUM of a per-row 60-bit hash of (shard, pos, md5(text)) —
    * position-salted so any reorder, drop, duplicate or edit moves
    * it, yet commutative so it partial-aggs map-side like any sum (an
    * ordered fp CHAIN would need the whole shard through one
    * reducer). The sum is carried as TWO BIGINT lanes — fp_hi =
    * Σ(fp >> 30), fp_lo = Σ(fp & (2^30−1)) — because a single sum of
    * 60-bit values (~4e19 per shard even at test scale) exceeds both
    * int64 max and float64's exact range (2^53), so no portable
    * representation carries it exactly across harnesses (the r10 gate
    * defect). Each lane stays < 2^53 up to 2^23 rows per shard; the
    * pair loses no information (hi·2^30 + lo reconstructs the exact
    * sum) and keeps the same blast radius. Everything here is
    * map-side + one partial agg over the existing shuffleShard
    * relation; the manifest is nShards rows. */
  def shardManifest(df: DataFrame, idCol: String, textCol: String, nShards: Int,
                    seed: String = "shuffle", hashed: Boolean = false): DataFrame = {
    val layout = shuffleShard(df, idCol, nShards, seed, hashed)
    val rowFp = {
      val salted = concat(col("shard").cast("string"), lit(":"),
        col("pos").cast("string"), lit(":"), md5(col(textCol)))
      // mask to 60 bits in BOTH modes so the lanes are non-negative
      // (xxhash64 is signed; the md5 path is 60-bit by construction)
      if (hashed) xxhash64(salted).bitwiseAND(lit((1L << 60) - 1))
      else conv(substring(md5(salted), 1, 15), 16, 10).cast("long")
    }
    df.select(col(idCol), col(textCol)).join(layout, idCol :: Nil)
      .select(col("shard"), col("pos"),
        graft.functions.TextFunctions.tokenCount(col(textCol)).cast("long").as("__t"),
        length(col(textCol)).cast("long").as("__c"),
        rowFp.as("__fp"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("n_tokens"),
        sum(col("__c")).as("n_chars"),
        sum(shiftright(col("__fp"), 30)).as("fp_hi"),
        sum(col("__fp").bitwiseAND(lit(0x3FFFFFFFL))).as("fp_lo"))
  }

  def shuffleShard(df: DataFrame, idCol: String, nShards: Int,
                   seed: String = "shuffle", hashed: Boolean = false): DataFrame = {
    val sortKey = if (hashed) xxhash64(lit(s"$seed:"), col(idCol).cast("string"))
      else conv(substring(md5(concat(lit(s"$seed:"), col(idCol).cast("string"))), 1, 15), 16, 10).cast("long")
    val shard = if (hashed) xxBucket(col(idCol), seed, nShards)
      else md5Bucket(col(idCol), seed, nShards)
    val w = Window.partitionBy(col("shard")).orderBy(col("__k"), col(idCol))
    df.select(col(idCol), shard.cast("int").as("shard"), sortKey.as("__k"))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .drop("__k")
  }

  /** DSIR-style importance score (the Xie et al. 2023 data-selection
    * shape): how much more target-like than corpus-like a document's
    * unigrams are, against a `isTarget` predicate defining the target
    * distribution (a trusted subset — here e.g. one language/source).
    *
    * Gate variant: per-doc Σ target-count and Σ corpus-count of its
    * tokens are exact integers; the affinity ratio is one correctly-
    * rounded division (6dp) — engine-exact. The production twin
    * ([[dsirLogRatio]]) is the paper's mean log-ratio with add-one
    * smoothing over hashed n-grams (transcendental → benched, not
    * gated).
    *
    * Scale shape: identical to [[unigramScore]] — one token-count
    * aggregate (partial-agg, shuffle carries (token, 2 longs)), one
    * rejoin; `hashTokens=true` shuffles xxhash64 longs, never text.
    * Output: (id, n_tokens, tgt_mass, all_mass, affinity). */
  def dsirScore(docs: DataFrame, idCol: String, textCol: String,
                isTarget: Column, hashTokens: Boolean = false): DataFrame = {
    val tok = docs.select(col(idCol), isTarget.as("__tgt"),
        explode(T.tokens(col(textCol))).as("__ts"))
      .select(col(idCol), col("__tgt"),
        (if (hashTokens) xxhash64(col("__ts")) else col("__ts")).as("__t"))
    val freq = tok.groupBy(col("__t")).agg(
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("__tf"),
      count(lit(1)).as("__af"))
    tok.drop("__tgt").join(freq, "__t")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__tf")).as("tgt_mass"), sum(col("__af")).as("all_mass"))
      .select(col(idCol), col("n_tokens"), col("tgt_mass"), col("all_mass"),
        round(col("tgt_mass").cast("double") / col("all_mass"), 6).as("affinity"))
  }

  /** Production DSIR: mean log((tf+1)/(af+1)) over hashed tokens —
    * the paper's smoothed importance log-ratio (up to the shared
    * normalizer constant, which shifts every doc equally and cancels
    * in ranking). Transcendental → benched, not gated. */
  def dsirLogRatio(docs: DataFrame, idCol: String, textCol: String,
                   isTarget: Column): DataFrame = {
    val tok = docs.select(col(idCol), isTarget.as("__tgt"),
        explode(T.tokens(col(textCol))).as("__ts"))
      .select(col(idCol), col("__tgt"), xxhash64(col("__ts")).as("__t"))
    val freq = tok.groupBy(col("__t")).agg(
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("__tf"),
      count(lit(1)).as("__af"))
    tok.drop("__tgt").join(freq, "__t")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        avg(log((col("__tf") + 1).cast("double") / (col("__af") + 1))).as("mean_log_ratio"))
  }

  /** Mean log-probability under the corpus unigram LM — the classic
    * perplexity-style quality score (CCNet-lineage). Same two-pass
    * shape as [[unigramScore]]; kept separate because log() is
    * transcendental (last-ulp engine-dependent), so it is benched as a
    * production query rather than oracle-gated. */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol), explode(T.tokens(col(textCol))).as("__t"))
      .select(col(idCol), xxhash64(col("__t")).as("__t"))
    val freq = tok.groupBy(col("__t")).agg(count(lit(1)).as("__f"))
    val total = freq.select(sum(col("__f")).as("__total"))
    tok.join(freq, "__t").crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        avg(log(col("__f").cast("double") / col("__total"))).as("mean_logprob"))
  }

  /** BPE tokenizer-training step 1: corpus-weighted adjacent
    * character-pair counts — the relation whose argmax is the first
    * merge. The corpus reduces to its DISTINCT vocabulary first (one
    * partial-agg'd token shuffle), so the pair explode runs once per
    * distinct word and is weighted by the word's frequency: the
    * per-character work scales with |vocab|, not corpus tokens — at
    * 100 TB the vocab relation is millions of rows while the corpus is
    * trillions of tokens. Top-k rank is deterministic
    * (count DESC, pair ASC).
    * Output: (pair, pair_count), topK rows. */
  def bpePairs(docs: DataFrame, textCol: String, topK: Int = 50): DataFrame = {
    val vocab = docs.select(explode(T.tokens(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__f"))
      .filter(length(col("__w")) >= 2)
    vocab
      .select(col("__f"),
        explode(expr("transform(sequence(1, length(__w) - 1), i -> substring(__w, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(sum(col("__f")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair").asc)
      .limit(topK)
  }

  /** Full BPE merge-rule training (the iterative continuation of
    * [[bpePairs]], which computes only round 1's counts): per round,
    * take the corpus-frequency argmax adjacent symbol pair, emit it as
    * the next merge rule, and apply it greedily left-to-right to every
    * word — the standard tokenizer-training loop (Sennrich et al.
    * 2016, reference semantics only).
    *
    * Scale shape: the corpus reduces to its DISTINCT weighted
    * vocabulary once (one partial-agg'd token shuffle — per-round work
    * then scales with |vocab|, millions of rows, not corpus tokens,
    * trillions); each round is one map-side pair explode + one
    * partial-agg'd count + a 1-row argmax collect (the sanctioned tiny
    * driver relation — merge rules are inherently sequential), and the
    * merge itself is a map-side array fold. The symbol relation is
    * sealed by an EAGER localCheckpoint each round (the concomp/bfs
    * recipe) — cache+count+unpersist is NOT enough here: the
    * non-cascading unpersist of round k-1 forces the CacheManager to
    * rebuild round k's dependent cache entry from the full logical
    * tower of nested interpreted HOF folds, and per-round cost goes
    * exponential (measured: 42 s/round + OOM by round 16 at 500 docs;
    * checkpointed: flat 0.15 s/round through 50). Rounds are
    * irreducibly sequential; production 32k-merge
    * vocabs amortize by batching non-conflicting rules per round —
    * out of scope here, the per-round plan is what matters at scale.
    * `maxWordLen` bounds the explode fan-out against pathological
    * unbroken-text tokens (skew guard).
    *
    * Words are tokenized by [[graft.functions.TextFunctions.tokens]];
    * end-of-word is implicit (pairs never cross word boundaries).
    * Stops early when no pair remains. Deterministic: argmax ranks
    * (count DESC, left ASC, right ASC). Rounds run through
    * [[Graph.Rounds]]: round n's jobs carry `graft.bpeTrain round=<n>`,
    * the vocabulary build `round=0`.
    *
    * Output: (rank, left, right, merged, pair_count) — ≤ `merges`
    * rows in rule order. */
  def bpeTrain(docs: DataFrame, textCol: String, merges: Int,
               maxWordLen: Int = 64): DataFrame = {
    require(merges >= 1, "merges must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    Graph.Rounds(docs, "graft.bpeTrain") { rounds =>
      var vocab = docs.select(explode(T.tokens(col(textCol))).as("__w"))
        .groupBy(col("__w")).agg(count(lit(1)).as("__f"))
        .filter(length(col("__w")).between(2, maxWordLen))
        .select(col("__f"),
          expr("transform(sequence(1, length(__w)), i -> substring(__w, i, 1))").as("__s"))
        .localCheckpoint()
      val rules = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
      // a round with no pair left to merge ends the loop early
      rounds.loop(merges) { round =>
        val top = vocab
          .select(col("__f"), explode(expr(
            "transform(sequence(1, size(__s) - 1), i -> struct(__s[i-1] AS l, __s[i] AS r))")).as("__p"))
          .groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
          .agg(sum(col("__f")).as("c"))
          .orderBy(col("c").desc, col("l").asc, col("r").asc)
          .limit(1).collect()
        if (top.isEmpty) true
        else {
          val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          rules += ((round, l, r, l + r, c))
          // greedy left-to-right merge as a map-side fold; Column-built
          // lambda (never SQL-string-interpolated — symbols may contain
          // quotes/backslashes)
          val lLit = lit(l); val rLit = lit(r)
          vocab = vocab.select(col("__f"),
              aggregate(col("__s"), array().cast("array<string>"), (acc, s) =>
                // try_element_at: NULL (not an ANSI index error) on the
                // empty accumulator; NULL === l is NULL → otherwise branch
                when(try_element_at(acc, lit(-1)) === lLit && s === rLit,
                  concat(slice(acc, lit(1), size(acc) - 1), array(concat(lLit, rLit))))
                  .otherwise(concat(acc, array(s)))).as("__s"))
            .filter(size(col("__s")) >= 2) // fully-merged words pair no more
            .localCheckpoint() // eager: materializes AND severs the fold tower
          false
        }
      }
      spark.createDataset(rules.toSeq)
        .toDF("rank", "left", "right", "merged", "pair_count")
    }
  }

  /** Importance-weighted Bernoulli sampling: keep row i with
    * probability w_i / max(w) — upweights long/high-quality docs
    * without a global sort or normalization pass beyond one scalar
    * max. The keep test is EXACT integer arithmetic (hash32 · max_w <
    * w · 2^32), so no floating-point rate boundary can disagree
    * between engines, and the decision is stable across reruns,
    * partitionings, and engines (hash-seeded like every sampler here).
    * Weights must be non-negative integers (cast upstream).
    * Output: (id, weight, keep). */
  def importanceSample(df: DataFrame, idCol: String, weightCol: String,
                       seed: String = "imp"): DataFrame = {
    // 32-bit uniform hash from the md5 prefix (the portable-hash recipe)
    val h32 = conv(substring(md5(concat(lit(s"$seed:"), col(idCol).cast("string"))), 1, 8), 16, 10)
      .cast("long")
    val mx = df.select(max(col(weightCol).cast("long")).as("__mx"))
    df.select(col(idCol), col(weightCol).cast("long").as("weight"), h32.as("__h"))
      .crossJoin(broadcast(mx))
      .withColumn("keep", col("__h") * col("__mx") < col("weight") * lit(4294967296L))
      .select(col(idCol), col("weight"), col("keep"))
  }

  /** Hashing-trick featurizer: token counts folded into a fixed
    * `dim`-wide integer vector by token hash — the classical
    * vocabulary-free sparse encoder (no dictionary pass, no OOV).
    * Map-side explode + ONE partial-agg'd groupBy(doc, slot); the
    * dense array assembles per doc from a slot→count map (key lookup —
    * collect order irrelevant). Gate mode md5 (oracle-recomputable);
    * `hashed = true` → xxhash64. Output: (id, features: array<long>). */
  def featureHash(docs: DataFrame, idCol: String, textCol: String,
                  dim: Int = 16, seed: String = "fh",
                  hashed: Boolean = false): DataFrame = {
    require(dim > 0, "dim must be positive")
    val tok = docs.select(col(idCol), explode(T.tokens(col(textCol))).as("__t"))
    val slot = if (hashed) pmod(xxhash64(lit(s"$seed:"), col("__t")), lit(dim.toLong))
      else md5Bucket(col("__t"), seed, dim)
    tok.select(col(idCol), slot.as("__s"))
      .groupBy(col(idCol), col("__s")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("__s"), col("__c")))).as("__m"))
      .select(col(idCol),
        expr(s"transform(sequence(0, ${dim - 1}), i -> coalesce(element_at(__m, CAST(i AS BIGINT)), 0L))")
          .as("features"))
  }

  /** Doc-level BPE encode: tokenize and segment every word with the
    * trained merge rules, one flat subword-symbol stream per doc —
    * the apply step pairing [[bpeTrain]] (train once, encode the
    * corpus). The rule table is embedded in a native expression
    * ([[graft.functions.TextExpressions.BpeEncodeWord]]): no join, no
    * broadcast, no per-row table work — the encode is one map-side
    * pass, trivially parallel at any corpus scale. */
  def bpeEncode(textCol: Column, rules: Seq[(String, String)]): Column =
    flatten(transform(T.tokens(textCol), w => X.bpeEncodeWord(w, rules)))

  /** Collect a [[bpeTrain]] result into the rank-ordered driver-side
    * rule table [[bpeEncode]] embeds. Merge rules are ≤ `merges` rows
    * by construction — the sanctioned tiny collect (the IVF-centroid
    * contract), NOT a corpus-sized relation. */
  def bpeCollectRules(rulesDf: DataFrame): Seq[(String, String)] =
    rulesDf.select(col("rank"), col("left"), col("right")).collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq

  /** Centroid (multinomial-rate) text classifier, trained and applied
    * in one job over a labeled corpus — the trained counterpart to the
    * heuristic langid scorer (reference-style quality/domain
    * classifiers, e.g. source-vs-source filters, are this shape).
    * weight(t, c) = count(t in c) · scale div total_tokens(c), an
    * integer fixed-point token rate per class; a document's class
    * score is Σ_t count_d(t) · weight(t, c). The add-free rate form
    * (no log, no smoothing) keeps every update BIGINT arithmetic, so
    * scores are order-free under any partitioning and bit-identical
    * in any engine (the kmeans/pagerank fixed-point recipe; sound
    * while class token counts stay below 2^63/scale). Prediction =
    * argmax score, ties to the larger label — max over a
    * (score, label) struct, deterministic.
    *
    * Scale shape: token/class and doc/token counts are partial-agg'd;
    * the scoring join is keyed on the token, so the shuffle carries
    * (token, class, weight) / (id, token, count) — never document
    * text — and argmax is one more partial agg. The model is a
    * RELATION, not a driver-side object: vocab grows with the corpus,
    * nothing collects or broadcasts (the per-class totals relation is
    * |classes| rows — AQE broadcasts it on its own). `hashed = true`
    * swaps the join key to xxhash64(token): the production path — the
    * scoring shuffle then carries longs instead of token strings
    * (gate mode keeps strings so DuckDB can rebuild the join).
    *
    * Classes sharing no token with a doc score no row for it (absent
    * from its argmax, never zero-filled — at corpus scale the dense
    * doc×class matrix is exactly what must not materialize).
    * Output: (id, label, predicted, score). */
  def classifyCentroid(docs: DataFrame, idCol: String, textCol: String,
                       labelCol: String, scale: Long = 1L << 20,
                       hashed: Boolean = false): DataFrame = {
    require(scale > 0, "scale must be positive")
    val raw = docs.select(col(idCol), col(labelCol).as("__lab"),
      explode(T.tokens(col(textCol))).as("__t"))
    val tok = if (hashed) raw.withColumn("__t", xxhash64(col("__t"))) else raw
    val classTot = tok.groupBy(col("__lab")).agg(count(lit(1)).as("__tot"))
    val model = tok.groupBy(col("__t"), col("__lab")).agg(count(lit(1)).as("__c"))
      .join(classTot, "__lab")
      .select(col("__t"), col("__lab").as("__mlab"),
        expr(s"__c * ${scale}L div __tot").as("__w"))
    val docTok = tok.groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("__dc"))
    docTok.join(model, "__t")
      .groupBy(col(idCol), col("__mlab"))
      .agg(sum(col("__dc") * col("__w")).as("__score"))
      .groupBy(col(idCol))
      .agg(max(struct(col("__score").as("s"), col("__mlab").as("l"))).as("__m"))
      .join(docs.select(col(idCol), col(labelCol).as("label")), Seq(idCol))
      .select(col(idCol), col("label"), col("__m.l").as("predicted"),
        col("__m.s").as("score"))
  }

  /** Snapshot delta between two corpus versions keyed on id — the
    * incremental-pipeline workhorse (what must re-embed / re-dedup /
    * re-shard after a crawl refresh). ONE full-outer hash join
    * carrying (id, fingerprint) pairs only, never document payloads;
    * identical docs are filtered out map-side after the join.
    * Output: (id, status) with status ∈ added | removed | changed. */
  def corpusDiff(v1: DataFrame, v2: DataFrame, idCol: String,
                 fpCol: String): DataFrame = {
    val a = v1.select(col(idCol).as("__id"), col(fpCol).as("__fp1"))
    val b = v2.select(col(idCol).as("__id"), col(fpCol).as("__fp2"))
    a.join(b, Seq("__id"), "full_outer")
      .withColumn("status",
        when(col("__fp1").isNull, "added")
          .when(col("__fp2").isNull, "removed")
          .when(col("__fp1") =!= col("__fp2"), "changed")
          .otherwise("unchanged"))
      .filter(col("status") =!= "unchanged")
      .select(col("__id").as(idCol), col("status"))
  }

  /** Intra-document repeated-line removal: drop every REPEAT of a line
    * within the same document, keeping the first occurrence — the
    * within-doc boilerplate pass (repeated headers/footers/menus)
    * complementing [[lineDedup]]'s cross-doc ≥2-distinct-docs rule.
    * Input is a line relation ([[linify]] or a real newline split).
    *
    * Scale shape: the dedup window partitions by (doc, line) — bounded
    * by one document's copies of one line, never corpus-sized — and
    * the only exchange key is the doc id; no cross-doc join exists at
    * all. Output per doc: n_lines, n_repeat_lines, repeat_ratio,
    * clean_text (surviving lines in original order). */
  def dedupLinesWithin(lines: DataFrame, idCol: String, idxCol: String,
                       lineCol: String): DataFrame = {
    val w = Window.partitionBy(col(idCol), col(lineCol)).orderBy(col(idxCol).asc)
    val marked = lines
      .withColumn("__dup", row_number().over(w) > 1)
    marked.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("n_repeat_lines"),
        round(sum(when(col("__dup"), 1L).otherwise(0L)).cast("double") / count(lit(1)), 6)
          .as("repeat_ratio"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(
              when(!col("__dup"), struct(col(idxCol).as("i"), col(lineCol).as("l"))))),
            s => s.getField("l"))).as("clean_text"))
  }

  /** Leakage-safe split: every row of a GROUP (near-dup cluster,
    * domain, author) lands in the same fold, because the md5 bucket is
    * computed on the GROUP key instead of the row id — duplicates can
    * never straddle train/test, which is the contamination channel a
    * row-hash split leaves open (a train copy of a test document).
    * Same deterministic portable-bucket recipe as [[hashSplit]]: pure
    * per-row arithmetic, no shuffle, stable under reruns and
    * repartitioning. Output: (idCol, groupCol, bucket, split). */
  def groupSplit(df: DataFrame, idCol: String, groupCol: String,
                 seed: String = "gsplit",
                 fractions: Seq[(String, Int)] =
                   Seq("train" -> 80, "val" -> 10, "test" -> 10)): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 > 0), "positive weights")
    val total = fractions.map(_._2).sum
    val bucket = md5Bucket(col(groupCol), seed, total)
    val bounds = fractions.scanLeft(0) { case (acc, (_, w)) => acc + w }.tail
    val named = fractions.map(_._1).zip(bounds)
    val split = named.init.reverse.foldLeft(lit(named.last._1): Column) {
      case (els, (nm, ub)) => when(col("__bucket") < ub, lit(nm)).otherwise(els)
    }
    df.select(col(idCol), col(groupCol), bucket.as("__bucket"))
      .select(col(idCol), col(groupCol), col("__bucket").as("bucket"),
        split.as("split"))
  }

  /** Token-budget corpus selection: walk documents in priority order
    * (scoreCol DESC, idCol ASC — a total order, so the result is a
    * pure function of the data) and keep them while the running token
    * total stays within `budget` — the "best N billion tokens" step
    * after quality scoring.
    *
    * Distributed shape: range-partition + in-partition sort on the
    * priority order (NOT a single-partition global window — an
    * `ORDER BY` running sum over the whole corpus would bottleneck one
    * task), then per-partition token totals (|partitions| longs — a
    * sanctioned tiny collect) become prefix offsets broadcast to a
    * per-partition cumulative-sum pass. Exact integer arithmetic
    * throughout. Output: (idCol, n_tokens, cum_tokens, selected) with
    * cum_tokens the INCLUSIVE running total. */
  /** Token-budget mixture construction — the LLM recipe corpusMix
    * approximates in documents, done in the unit that matters: each
    * source gets a TOKEN budget and contributes its hash-priority
    * prefix up to that budget (training mixtures are specified as
    * token fractions; doc quotas drift with per-source length skew).
    * Sources without a budget pass through selected=false (the
    * corpusMix weight-0 contract).
    *
    * Scale shape: the [[selectToBudget]] machinery generalized per
    * group — range partition on (source, priority), per-partition
    * per-source sums to the driver (≤ partitions × sources longs, the
    * sanctioned tiny relation), exclusive offsets broadcast back, one
    * streaming pass. No per-source window ever materializes a
    * source's full row set through one task. Deterministic: priority
    * is the 60-bit md5 of the id (engine-portable), ties broken by id.
    * Output: (id, stratum, n_tokens, cum_tokens, selected). */
  def tokenMixToBudget(df: DataFrame, idCol: String, stratumCol: String,
                       tokensCol: String, budgets: Seq[(String, Long)],
                       seed: String = "mix"): DataFrame = {
    require(budgets.nonEmpty && budgets.forall(_._2 >= 0), "budgets must be >= 0")
    val spark = df.sparkSession
    val bcol = budgets.foldRight(lit(null).cast("long"): Column) { case ((s, b), els) =>
      when(col(stratumCol) === s, lit(b)).otherwise(els)
    }
    val prio = conv(substring(md5(concat(lit(s"$seed:"), col(idCol).cast("string"))), 1, 15), 16, 10).cast("long")
    val pre = df.select(col(idCol), col(stratumCol).cast("string").as("__src"),
      coalesce(col(tokensCol).cast("long"), lit(0L)).as("__tok"),
      prio.as("__p"), bcol.as("__b"))
    val budgeted = pre.filter(col("__b").isNotNull)
      .repartitionByRange(col("__src").asc, col("__p").asc, col(idCol).asc)
      .sortWithinPartitions(col("__src").asc, col("__p").asc, col(idCol).asc)
    val (cached, withCum) = runningTotals(budgeted, tokIdx = 2, groupOf = _.getString(1))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      df.schema(idCol),
      org.apache.spark.sql.types.StructField("__src", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_tokens", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cum_tokens", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("__b2", org.apache.spark.sql.types.LongType, nullable = false)))
    val rows = withCum.map { case (r, c) =>
      org.apache.spark.sql.Row(r.get(0), r.getString(1), r.getLong(2), c, r.getLong(4))
    }
    val selectedPart = spark.createDataFrame(rows, schema)
      .select(col(idCol), col("__src").as(stratumCol), col("n_tokens"),
        col("cum_tokens"), (col("cum_tokens") <= col("__b2")).as("selected"))
    val rest = pre.filter(col("__b").isNull)
      .select(col(idCol), col("__src").as(stratumCol), col("__tok").as("n_tokens"),
        lit(null).cast("long").as("cum_tokens"), lit(false).as("selected"))
    val out = selectedPart.unionByName(rest).localCheckpoint(eager = true)
    cached.unpersist(false)
    out
  }

  /** Shared two-pass distributed running-total core for the budget
    * selectors ([[selectToBudget]] = the single-group case,
    * [[tokenMixToBudget]] = per-group): `prepared` must already be
    * range-partitioned and sorted in the intended scan order. Pass 1
    * collects per-partition PER-GROUP sums to the driver (≤ partitions
    * × groups longs — the sanctioned tiny relation) and derives
    * exclusive offsets; pass 2 streams each partition once, pairing
    * every row with its inclusive per-group running total. Returns the
    * cached input RDD too: the caller must materialize its result
    * (eager localCheckpoint) and then unpersist it. */
  private def runningTotals(prepared: DataFrame, tokIdx: Int,
                            groupOf: org.apache.spark.sql.Row => String)
      : (org.apache.spark.rdd.RDD[org.apache.spark.sql.Row],
         org.apache.spark.rdd.RDD[(org.apache.spark.sql.Row, Long)]) = {
    val rdd = prepared.rdd
    rdd.cache()
    val partSums = rdd.mapPartitionsWithIndex { (i, it) =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { r => val g = groupOf(r); m(g) = m.getOrElse(g, 0L) + r.getLong(tokIdx) }
      Iterator((i, m.toMap))
    }.collect().sortBy(_._1)
    val running = scala.collection.mutable.HashMap.empty[String, Long]
    val offsets = partSums.map { case (_, sums) =>
      val off = sums.keys.map(s => s -> running.getOrElse(s, 0L)).toMap
      sums.foreach { case (s, v) => running(s) = running.getOrElse(s, 0L) + v }
      off
    }
    val bc = prepared.sparkSession.sparkContext.broadcast(offsets)
    val rows = rdd.mapPartitionsWithIndex { (i, it) =>
      val acc = scala.collection.mutable.HashMap.empty[String, Long]
      bc.value(i).foreach { case (s, v) => acc(s) = v }
      it.map { r =>
        val g = groupOf(r)
        val c = acc.getOrElse(g, 0L) + r.getLong(tokIdx)
        acc(g) = c
        (r, c)
      }
    }
    (rdd, rows)
  }

  /** Token-weighted systematic sampling (PPS — probability
    * proportional to size, the survey-sampling classic): lay the
    * corpus out on a token axis in deterministic hash order, then
    * pick every doc whose token interval contains one of the n
    * evenly-spaced sample points — P(picked) ∝ n_tokens (for docs
    * below the stride), which is what a token-faithful eval/
    * inspection subsample needs (uniform doc sampling over-represents
    * short docs in token mass; this does not). Zero-token docs have
    * empty intervals and are never picked.
    *
    * All integer, engine-exact: stride = ⌈total/n⌉, sample points
    * offset + k·stride with offset = 1 + (60-bit md5 of the seed)
    * mod stride; doc i is picked iff g(T_i) > g(T_{i−1}) where
    * T_i is the inclusive running token total and
    * g(x) = (x + stride − offset) div stride counts points ≤ x
    * (shifted to keep every operand non-negative — truncating and
    * flooring division agree there, so Spark's div and DuckDB's //
    * can't diverge). n points land; a doc spanning k strides absorbs
    * k of them but is picked once (without-replacement PPS — docs at
    * or above the stride are certain picks), so the doc count is ≤ n
    * and exactly n when every doc is below the stride. Same
    * distributed shape as
    * [[selectToBudget]]: the shared [[runningTotals]] two-pass
    * prefix-offset core, no global single-task window.
    * Output: (id, n_tokens, cum_tokens, picked). */
  def systematicSample(df: DataFrame, idCol: String, tokensCol: String,
                       n: Long, seed: String = "pps"): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val spark = df.sparkSession
    val prio = conv(substring(md5(concat(lit(s"$seed:"), col(idCol).cast("string"))), 1, 15), 16, 10).cast("long")
    val prepared = df
      .select(col(idCol),
        coalesce(col(tokensCol).cast("long"), lit(0L)).as("__tok"),
        prio.as("__p"))
      .repartitionByRange(col("__p").asc, col(idCol).asc)
      .sortWithinPartitions(col("__p").asc, col(idCol).asc)
    val (cached, withCum) = runningTotals(prepared, tokIdx = 1, groupOf = _ => "")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      df.schema(idCol),
      org.apache.spark.sql.types.StructField("n_tokens", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cum_tokens", org.apache.spark.sql.types.LongType, nullable = false)))
    val rows = withCum.map { case (r, c) =>
      org.apache.spark.sql.Row(r.get(0), r.getLong(1), c)
    }
    val base = spark.createDataFrame(rows, schema)
    val tot = base.agg(max(col("cum_tokens")).as("__total"))
    val seedHash = conv(substring(md5(lit(s"$seed:offset")), 1, 15), 16, 10).cast("long")
    val out = base.crossJoin(broadcast(tot))
      // greatest(1, ·) guards the all-zero-token corpus (stride 0
      // would divide by zero); nothing is picked there anyway
      .withColumn("__stride",
        expr(s"greatest(1L, (coalesce(__total, 0L) + ${n}L - 1) div ${n}L)"))
      .withColumn("__off", lit(1L) + pmod(seedHash, col("__stride")))
      .withColumn("picked",
        expr("(cum_tokens + __stride - __off) div __stride") >
          expr("(cum_tokens - n_tokens + __stride - __off) div __stride"))
      .select(col(idCol), col("n_tokens"), col("cum_tokens"), col("picked"))
      .localCheckpoint(eager = true)
    cached.unpersist(false)
    out
  }

  def selectToBudget(df: DataFrame, idCol: String, tokensCol: String,
                     scoreCol: Column, budget: Long): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    val spark = df.sparkSession
    val prepared = df
      .select(col(idCol),
        coalesce(col(tokensCol).cast("long"), lit(0L)).as("__tok"),
        scoreCol.as("__score"))
      .repartitionByRange(col("__score").desc, col(idCol).asc)
      .sortWithinPartitions(col("__score").desc, col(idCol).asc)
    // the single-group case of the shared per-group prefix-offset core
    val (cached, withCum) = runningTotals(prepared, tokIdx = 1, groupOf = _ => "")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      df.schema(idCol),
      org.apache.spark.sql.types.StructField("n_tokens", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cum_tokens", org.apache.spark.sql.types.LongType, nullable = false)))
    val rows = withCum.map { case (r, c) =>
      org.apache.spark.sql.Row(r.get(0), r.getLong(1), c)
    }
    val out = spark.createDataFrame(rows, schema)
      .withColumn("selected", col("cum_tokens") <= budget)
      .localCheckpoint(eager = true) // seal, then drop the 2-pass cache
    cached.unpersist(false)
    out
  }
}
