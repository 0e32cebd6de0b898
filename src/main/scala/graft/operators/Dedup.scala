package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.implicits._

/** Deduplication operators for the LLM-training-data pipeline (north-star
  * extension; BASELINE.json).
  *
  * Scale design: every variant is candidate-generation-by-key (hash bucket,
  * LSH band, blocking key) followed by within-bucket verification — never a
  * global O(n²) cross join. At 100 TB the shuffles are all on
  * high-cardinality keys (content hash, band hash), so they parallelize
  * evenly; skew only appears if one band key is degenerate, which the
  * verification join bounds.
  */
object Dedup {

  /** Unsegmented-script detector shared by [[tokens]] and its oracle
    * mirror: CJK Unified (+ext A), Hiragana/Katakana, Hangul syllables,
    * Thai — the scripts that write without word separators.
    */
  private val UnsegScript = "\\u3040-\\u30ff\\u3400-\\u9fff\\uac00-\\ud7af\\u0e00-\\u0e7f"
  private val UnsegScriptDuck =
    "\\x{3040}-\\x{30ff}\\x{3400}-\\x{9fff}\\x{ac00}-\\x{d7af}\\x{0e00}-\\x{0e7f}"

  /** The shared corpus tokenizer: whitespace split, with a CODE-POINT
    * fallback for whitespace-free text in an unsegmented script — a doc
    * with no whitespace that contains CJK/kana/Hangul/Thai tokenizes to
    * its individual characters instead of collapsing to ONE token, which
    * would silently skew every downstream consumer (dedup grams become
    * doc-identity, quality filters see n_tokens=1, collocations see
    * nothing). Character unigram tokens make the standard CJK dedup
    * shape fall out for free: the n-gram stage over them yields
    * character n-grams. The script guard keeps a single Latin word
    * ("hello") one token, as `split` always produced; a single
    * unsegmented character keeps the one-token shape too. Whitespace-
    * bearing text is bit-identical to the old `split(lower(text),
    * "\\s+")` — every existing oracle stands. (Scope: BMP scripts —
    * `substr` counts code points, not graphemes.)
    */
  private[operators] def tokens(c: Column): Column = {
    val lc = lower(c)
    when(c.rlike("\\s") || !c.rlike(s"[$UnsegScript]"), split(lc, "\\s+"))
      .when(length(lc) < 2, array(lc))
      // code-point split via zero-width regex instead of
      // transform(sequence(...)): the higher-order form is
      // CodegenFallback, and ONE such node in a projection knocks the
      // ENTIRE stage out of whole-stage codegen — measured 1.3-1.5× on
      // the heavy gram queries (d07/d08/d16) even though the branch
      // never executes on Latin corpora. split/slice/rlike all
      // codegen, so the Latin path now pays only the one early-exit
      // whitespace rlike. The slice drops the trailing "" that
      // zero-width split keeps (limit -1), making the result
      // bit-identical to the old per-index substr transform.
      .otherwise(slice(split(lc, "(?!^)"), lit(1), length(lc)))
  }

  /** The DuckDB mirror of [[tokens]], for oracle SQL builders. */
  private[graft] def tokensDuckdbSql(expr: String): String =
    s"""CASE WHEN regexp_matches($expr, '\\s')
            OR NOT regexp_matches($expr, '[$UnsegScriptDuck]')
       THEN string_split_regex(lower($expr), '\\s+')
       WHEN length($expr) < 2 THEN [lower($expr)]
       ELSE list_transform(generate_series(1, length($expr)),
                           i -> substr(lower($expr), i, 1)) END"""

  /** Word n-grams as an array column; empty when the doc has < n tokens.
    * Shared with [[TextAnalysis]] (contamination/repetition grams).
    */
  private[operators] def ngrams(toks: Column, n: Int): Column = {
    val len = size(toks)
    val parts = (0 until n).map(i => slice(toks, lit(i + 1), greatest(len - (n - 1), lit(0))))
    parts.reduce((a, b) => zip_with(a, b, (x, y) => concat_ws(" ", x, y)))
  }

  /** N-gram *identities* as 64-bit hashes, skipping gram-string
    * construction: hash each token once, then fold the n adjacent token
    * hashes with xxhash64. Identity-equivalent to hashing the gram string
    * (tokens cannot contain the separator — they come from a `\s+` split)
    * but ~3× cheaper on the first pass: no per-gram string allocation and
    * `array_distinct` compares longs, not strings. Every slice has the
    * same length, so no zip_with null-padding. Used where only gram
    * identity matters (Jaccard); minhash keeps string grams because its
    * oracle PolyHashes the gram text.
    */
  private def ngramHashes(toks: Column, n: Int): Column = {
    val len = greatest(size(toks) - (n - 1), lit(0))
    val hashes = transform(toks, t => xxhash64(t))
    val parts = (0 until n).map(i => slice(hashes, lit(i + 1), len))
    parts.reduce((a, b) => zip_with(a, b, (x, y) => xxhash64(x, y)))
  }

  /** Exact dedup: group identical texts, keep the smallest doc_id
    * (hash-groupBy — one shuffle on the content hash; at scale, group on
    * md5 of the text rather than the text itself to keep shuffle rows thin).
    */
  def exact(documents: DataFrame): DataFrame =
    documents
      // group on the 128-bit content hash, not the text: the shuffle carries
      // 32 bytes per row instead of the whole document — the 100 TB shape
      // (collision probability ~n²/2¹²⁹; the oracle groups by text and emits
      // the same hash, so results agree unless md5 itself collides)
      .groupBy(md5($"text".cast("binary")).as("text_hash"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("dup_count"))
      .orderBy($"keep_id")

  /** Exact-dedup distilled: the surviving document ids (the corpus after
    * dedup), cheapest possible form: min id per text group.
    */
  def exactSurvivors(documents: DataFrame): DataFrame =
    documents.groupBy($"text").agg(min($"doc_id").as("doc_id"))
      .select($"doc_id").orderBy($"doc_id")

  /** INCREMENTAL exact dedup — the production shape: each new crawl batch
    * dedups against the ACCUMULATED corpus, never the full corpus against
    * itself. The history side collapses to its 128-bit content-hash index
    * (16 bytes per historical doc — the at-rest index a real pipeline
    * maintains between runs; at 100 TB store it bucketed by hash so the
    * daily batch join shuffles only the batch side, the BucketingSpec
    * lever). Every batch doc is emitted with its audit flags:
    * `dup_of_history` (content already in the corpus), `dup_in_batch`
    * (a smaller-id batch doc has the same content), and `keep` — their
    * conjunction's negation, the rows that extend the corpus AND the
    * index for the next increment.
    */
  def incrementalDedup(history: DataFrame, batch: DataFrame): DataFrame = {
    val idx = history
      .select(md5($"text".cast("binary")).as("text_hash"))
      .distinct()
      .withColumn("in_history", lit(true))
    val w = Window.partitionBy($"text_hash").orderBy($"doc_id")
    batch
      .select($"doc_id", $"source", md5($"text".cast("binary")).as("text_hash"))
      .withColumn("rn", row_number().over(w))
      .join(idx, Seq("text_hash"), "left")
      .select($"doc_id", $"source", $"text_hash",
        ($"rn" === 1 && $"in_history".isNull).as("keep"),
        coalesce($"in_history", lit(false)).as("dup_of_history"),
        ($"rn" > 1).as("dup_in_batch"))
      .orderBy($"doc_id")
  }

  /** [[incrementalDedup]] with a Bloom prefilter on the history join —
    * value-identical output (DedupSpec cross-checks row-for-row; the d12
    * gate shares d11's oracle verbatim), different 100 TB cost model.
    *
    * What the filter buys — stated precisely: the in-batch dedup window
    * still shuffles the batch by hash (grouping per-hash is inherent to
    * in-batch dedup, in BOTH forms), but the HISTORY side join shrinks
    * from "every batch row probes the accumulated index" to "only the
    * might-contain sliver does". At scale history ≫ batch, so the join
    * against the stored index is the expensive half: with the sliver as
    * the probe side, the history index is read only where candidates
    * exist (and the sliver comfortably broadcasts against a bucketed
    * index), instead of every increment paying index-sized join work for
    * a ~all-fresh batch. The filter itself is built distributed
    * (`stat.bloomFilter` treeAggregate, ~9.6 bits/item at 1% fpp — a
    * 1-billion-doc index fits a ~1.2 GB broadcast) and in a real
    * deployment is built once per epoch and REUSED across increments,
    * not rebuilt per batch. Misses are DEFINITELY fresh (no false
    * negatives); the fpp-sized false-positive tail is cleared by the
    * exact join.
    *
    * The probe is a deliberate Scala UDF: one serialized bitmap probed
    * per-row on executors, no shuffle, no per-row allocation — the
    * documented cold-path exception (the join it replaces costs far more
    * than the codegen break saves).
    *
    * @note EAGER: this operator runs jobs at CALL time, not first action —
    *       the filter build (`stat.bloomFilter`) is an action by nature,
    *       and the windowed batch is barriered so the union branches read
    *       one materialization instead of re-shuffling it. Callers
    *       composing plans without executing them still pay both.
    */
  def incrementalDedupBloom(history: DataFrame, batch: DataFrame,
                            expectedItems: Long = 1000000L,
                            fpp: Double = 0.01): DataFrame = {
    // barrier the distinct'd index ONCE: the bloom build (an action) and
    // the exact-join build side would otherwise EACH run the full history
    // scan + distinct — two history passes per increment, undercutting the
    // "history read only where candidates exist" cost story. In the
    // persisted-index deployment this materialization is the stored index
    // itself and costs nothing per batch.
    val idx = graft.Session.barrier(history
      .select(md5($"text".cast("binary")).as("text_hash"))
      .distinct())
    // null-safe on both sides: the builder must not feed null to the
    // sketch, and the probe must route a null hash (NULL text) to the
    // fresh branch — exactly where d11's left join sends it (a null key
    // never matches), keeping the two forms row-identical on any input
    val bloom = idx.where($"text_hash".isNotNull)
      .stat.bloomFilter("text_hash", expectedItems, fpp)
    val mightContain = udf((h: String) => h != null && bloom.mightContain(h))
    val w = Window.partitionBy($"text_hash").orderBy($"doc_id")
    // materialize the windowed batch ONCE before the branch split: the two
    // union branches would otherwise each plan (and shuffle) the window
    // subtree — runtime exchange reuse does not fire across them here —
    // and the batch is increment-sized by definition, so the barrier is
    // cheap (PlanGuardSpec pins the single batch-side exchange)
    val hashed = graft.Session.barrier(batch
      .select($"doc_id", $"source", md5($"text".cast("binary")).as("text_hash"))
      .withColumn("rn", row_number().over(w)))
    val maybe = hashed.where(mightContain($"text_hash"))
      .join(idx.withColumn("in_history", lit(true)), Seq("text_hash"), "left")
    val fresh = hashed.where(!mightContain($"text_hash"))
      .withColumn("in_history", lit(null).cast("boolean"))
    maybe.unionByName(fresh)
      .select($"doc_id", $"source", $"text_hash",
        ($"rn" === 1 && $"in_history".isNull).as("keep"),
        coalesce($"in_history", lit(false)).as("dup_of_history"),
        ($"rn" > 1).as("dup_in_batch"))
      .orderBy($"doc_id")
  }

  /** N-gram Jaccard near-dup pairs, blocked by `source` — THE default entry
    * point, and it prunes: grams shared by more than `maxDocFreq` documents
    * are dropped from candidate generation before pairing (delegates to
    * [[ngramJaccardPairsPruned]]). The uncapped formulation has a Σc² pair
    * blowup on stopword-like grams (c ≈ corpus size) that no amount of
    * parallelism survives at 100 TB; the cap bounds every gram bucket, and
    * because genuinely near-duplicate pairs share *rare* grams too, their
    * scores are unchanged in practice (verified value-identical on all
    * fixture SFs at the default cap). Reach for
    * [[ngramJaccardPairsExact]] only when exact scores on hot grams matter
    * more than the quadratic risk.
    *
    * @note since round 3 this default is the PRUNED (approximate) shape:
    *       pairs whose only shared grams occur in more than `maxDocFreq`
    *       documents are not generated. Callers needing the old uncapped
    *       semantics must call [[ngramJaccardPairsExact]] explicitly.
    */
  def ngramJaccardPairs(documents: DataFrame, n: Int, threshold: Double,
                        maxDocFreq: Int = 128): DataFrame =
    ngramJaccardPairsPruned(documents, n, threshold, maxDocFreq)

  /** Exact (uncapped) n-gram Jaccard pairs: explode distinct n-grams,
    * self-join within (source, gram) to count intersections, then
    * |A∪B| = |A|+|B|−|A∩B|. Integer arithmetic + one final division keeps
    * the score bit-identical to the SQL oracle. Explicit exact mode — a
    * gram shared by c docs contributes c² join rows, so at corpus scale
    * prefer the pruned default.
    */
  def ngramJaccardPairsExact(documents: DataFrame, n: Int, threshold: Double,
                             maxHotDocFreq: Int = 4096): DataFrame = {
    // Join/shuffle on xxhash64(source, gram) instead of the raw strings:
    // the exploded gram relation is the big side at scale, and an 8-byte
    // key keeps its shuffle thin. A 64-bit collision would merge two gram
    // identities (~n²/2⁶⁵ probability) — negligible against corpus sizes,
    // and both intersection and set sizes are counted over the same keys so
    // the estimate stays internally consistent.
    // each gram row carries its doc's distinct-gram count: |A| and |B| ride
    // the pair join for free, so no separate `sizes` aggregation re-scans
    // the corpus (a second full pass at 100 TB) and no post-join lookups
    // barriered (round-14): the gram relation feeds the hot-gram guard
    // aggregate AND both self-join sides — the tokenize+hash+explode
    // pass (the CPU-heavy part) runs once; the checkpoint rows are thin
    // (24 bytes: two longs + the 8-byte key)
    val grams = graft.Session.barrier(documents
      .select($"doc_id", $"source",
        array_distinct(ngramHashes(tokens($"text"), n)).as("gs"))
      .select($"doc_id", size($"gs").cast("long").as("n"),
        explode($"gs").as("gh"), $"source")
      .select($"doc_id", $"n", xxhash64($"source", $"gh").as("g")))
    // OOM guard, paid before the quadratic join: a gram shared by c docs
    // contributes c² join rows, so a single stopword-like gram at corpus
    // scale turns this exact mode into a within-group cartesian that dies
    // by memory, not by error message. One thin aggregate over the 8-byte
    // keys finds the hottest gram first and FAILS LOUDLY, pointing at the
    // bounded form (d06) — degrading to a crash is not an acceptable
    // failure mode at 100 TB.
    val hottest = grams.groupBy($"g").agg(count(lit(1)).as("c"))
      .agg(max($"c")).first().getLong(0)
    require(hottest <= maxHotDocFreq,
      s"ngramJaccardPairsExact: hottest gram is shared by $hottest docs " +
        s"(limit $maxHotDocFreq) — the exact self-join would expand " +
        s"~c^2 rows per hot gram; use ngramJaccardPairsPruned (gate d06) " +
        s"or raise maxHotDocFreq explicitly")
    grams.as("a")
      .join(grams.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
               col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", $"inter" / ($"na" + $"nb" - $"inter"))
      .where($"jaccard" >= threshold)
      .select($"doc_a", $"doc_b", round($"jaccard", 4).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Frequency-pruned n-gram Jaccard: identical to [[ngramJaccardPairs]]
    * except grams shared by more than `maxDocFreq` documents are dropped
    * from candidate generation (a broadcast anti join against the small
    * hot-gram set). This is THE scale lever for the pair blowup — the
    * Σc² expansion is dominated by stopword-like grams whose c ≈ corpus
    * size, and pruning them bounds c ≤ maxDocFreq. Set sizes |A|,|B| stay
    * the full gram counts, so the score is a lower bound of true Jaccard:
    * genuinely near-duplicate pairs (which share *rare* grams too) survive.
    */
  def ngramJaccardPairsPruned(documents: DataFrame, n: Int, threshold: Double,
                              maxDocFreq: Int): DataFrame =
    prunedPairCounts(documents, n, maxDocFreq)
      .withColumn("jaccard", $"inter" / ($"na" + $"nb" - $"inter"))
      .where($"jaccard" >= threshold)
      .select($"doc_a", $"doc_b", round($"jaccard", 4).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")

  /** Shared pruned pair-count core (d06 Jaccard, d16 containment).
    * Shape: one shuffle of the gram relation on g; a windowed count(*)
    * per g computes each gram's document frequency in place (no second
    * scan of the corpus, no collect_list buffering a hot bucket in
    * memory — the window buffer is a spillable external sorter, so a
    * pathological stopword gram degrades to a spilling task, never an
    * OOM); DROP grams outside [2, maxDocFreq]; then pair the surviving
    * rows with a self-join on g. Post-filter every gram key holds at
    * most maxDocFreq rows, so the join's per-key expansion is bounded
    * at cap²/2 and stays whole-stage-codegen (the in-row nested
    * transform() alternative runs interpreted — ~1.5× slower measured).
    * The kept relation is BARRIERED before the self-join (round-14, the
    * d08/d03 discipline): the planner BROADCASTS the small post-filter
    * side, and a BroadcastExchange cannot reuse the probe side's shuffle
    * exchange — unbarriered, the tokenize+hash+explode+window pass (the
    * CPU-heavy corpus scan) ran once per join side (plan-verified at
    * sf0.001 and sf0.1). The checkpoint rows are thin (three longs + the
    * df count). Set sizes |A|,|B| are the UNPRUNED distinct-gram
    * counts and ride the join rows — no separate sizes aggregation.
    * Returns (doc_a, doc_b, na, nb, inter), doc_a < doc_b.
    */
  private def prunedPairCounts(documents: DataFrame, n: Int,
                               maxDocFreq: Int): DataFrame = {
    val grams = documents
      .select($"doc_id", $"source",
        array_distinct(ngramHashes(tokens($"text"), n)).as("gs"))
      .select($"doc_id", size($"gs").cast("long").as("n"),
        explode($"gs").as("gh"), $"source")
      .select($"doc_id", $"n", xxhash64($"source", $"gh").as("g"))
    val perGram = org.apache.spark.sql.expressions.Window.partitionBy($"g")
    val kept = graft.Session.barrier(grams
      .withColumn("df", count(lit(1)).over(perGram))
      .where($"df".between(2, maxDocFreq)))
    kept.as("a")
      .join(kept.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
               col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
  }

  /** Containment near-dup pairs (d16) — Broder (1997)'s ASYMMETRIC
    * resemblance: C(A→B) = |grams(A) ∩ grams(B)| / |grams(A)|. Jaccard
    * misses the pairs a crawl pipeline most wants: a truncated copy, a
    * quoted excerpt, or a boilerplate-wrapped article scores Jaccard ≈
    * |A|/|B| (low when the container is large) but containment ≈ 1 in
    * the contained direction. Emitted pairs carry both directions plus
    * Jaccard, so the caller can classify: high max-containment + low
    * Jaccard = asymmetric (sub-document) duplication; both high =
    * symmetric near-dup.
    *
    * Scale shape is [[prunedPairCounts]] verbatim — the same bounded
    * gram self-join d06 runs; only the final scalar formula differs, so
    * containment costs nothing extra when run alongside Jaccard.
    */
  def containmentPairs(documents: DataFrame, n: Int, threshold: Double,
                       maxDocFreq: Int = 128): DataFrame =
    prunedPairCounts(documents, n, maxDocFreq)
      .withColumn("c_ab", $"inter" / $"na")
      .withColumn("c_ba", $"inter" / $"nb")
      .where(greatest($"c_ab", $"c_ba") >= threshold)
      .select($"doc_a", $"doc_b",
        round($"c_ab", 4).as("c_ab"), round($"c_ba", 4).as("c_ba"),
        round($"inter" / ($"na" + $"nb" - $"inter"), 4).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")

  /** The classic affine min-hash family h_i(g) = (a_i·g + b_i) mod P over a
    * base gram hash g. Constants derive from MurmurHash3 of the hash index —
    * plan-time, deterministic, no RNG state — and are also embedded
    * verbatim into the DuckDB oracle SQL (SparkEntry), which recomputes the
    * identical signatures: minhash is fully oracle-checked, not rows-only.
    */
  val P: Long = graft.functions.PolyHash.P
  def affine(i: Int): (Long, Long) = {
    val a = (math.abs(scala.util.hashing.MurmurHash3.productHash((i, 0))).toLong % (P - 1)) + 1
    val b = math.abs(scala.util.hashing.MurmurHash3.productHash((i, 1))).toLong % P
    (a, b)
  }

  /** MinHash signature matrix: `numHashes` affine min-hashes over the doc's
    * shingle set. Base hash = portable [[graft.functions.PolyHash]] of the
    * gram (native codegen'd expression); a_i·g + b_i stays < P² < 2⁶³.
    */
  /** One row per (doc, band): full signature + the band's slice as the
    * bucket key. Shared by the self-join (d03) and incremental (d14)
    * forms so the banding scheme cannot drift between them.
    */
  /** d03's banded-signature relation exposed for the streaming twin
    * (w24) — one signature kernel, every consumer. */
  private[graft] def bandRowsFor(documents: DataFrame, shingleN: Int = 3,
                                 bands: Int = 8, rows: Int = 4): DataFrame =
    bandedSignatures(documents, shingleN, bands, rows)

  /** d03's candidate join + estimate + threshold, parameterized over the
    * two band-row sides — [[minhashLshPairs]] calls it with the corpus
    * on both sides; the streaming twin calls it with (history ∪ batch)
    * on the left and the batch on the right, so a pair emits exactly
    * once (when its larger doc arrives) and the union over batches IS
    * the batch answer. One join kernel, two gates.
    */
  private[graft] def lshPairsAcross(left: DataFrame, right: DataFrame,
                                    numHashes: Int,
                                    threshold: Double): DataFrame = {
    val agree = aggregate(
      zip_with(col("a.sig"), col("b.sig"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), _ + _)
    left.as("a")
      .join(right.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (agree.cast("double") / lit(numHashes)).as("est"))
      // a pair can collide in several bands; est is identical in each → max
      .groupBy($"doc_a", $"doc_b")
      .agg(max($"est").as("est_jaccard"))
      .where($"est_jaccard" >= threshold)
      .select($"doc_a", $"doc_b", round($"est_jaccard", 4).as("est_jaccard"))
  }

  private def bandedSignatures(documents: DataFrame, shingleN: Int,
                               bands: Int, rows: Int): DataFrame = {
    val numHashes = bands * rows
    val sig = minhashSignature(documents, shingleN, numHashes)
    val sigArr = array((0 until numHashes).map(i => col(s"h$i")): _*)
    sig.select($"doc_id", sigArr.as("sig"),
        explode(array((0 until bands).map { b =>
          val slice = (0 until rows).map(r => col(s"h${b * rows + r}"))
          struct(lit(b).as("band"), array(slice: _*).as("key"))
        }: _*)).as("bucket"))
      .select($"doc_id", $"sig", $"bucket.band", $"bucket.key")
  }

  /** Incremental NEAR-dup (d14): each crawl batch checked against the
    * accumulated history's MinHash signature index — d11's production
    * shape lifted from exact to near duplicates. History collapses to its
    * banded signature table (numHashes longs per doc, ~256 bytes at the
    * 8×4 default — the persisted artifact a pipeline keeps between
    * increments, hash-bucketed by band key at rest so the daily join
    * shuffles only the batch, the BucketingSpec lever). Candidates are
    * batch→history band-bucket collisions; the Jaccard estimate is the
    * agreeing-position fraction of the two signatures riding the join —
    * no text ever leaves the batch side, no O(batch × history) anywhere.
    *
    * Emits one audit row per batch doc: candidate count, best estimate,
    * and the `near_dup_of_history` verdict at `threshold`. Docs with
    * fewer than `shingleN` tokens have no signature and report zero
    * candidates (stated; the oracle reproduces it via the same left
    * join).
    */
  def incrementalMinhash(history: DataFrame, batch: DataFrame,
                         shingleN: Int = 3, bands: Int = 8, rows: Int = 4,
                         threshold: Double = 0.5): DataFrame = {
    val numHashes = bands * rows
    val agree = aggregate(
      zip_with(col("b.sig"), col("h.sig"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), _ + _)
    val cand = bandedSignatures(batch, shingleN, bands, rows).as("b")
      .join(bandedSignatures(history, shingleN, bands, rows).as("h"),
        col("b.band") === col("h.band") && col("b.key") === col("h.key"))
      .select(col("b.doc_id").as("doc_id"), col("h.doc_id").as("hist_id"),
        (agree.cast("double") / numHashes).as("est"))
      // a (batch, history) pair can collide in several bands; est is
      // identical in each (exact multiples of 1/numHashes), so distinct
      // dedupes to one row per candidate pair
      .distinct()
    val perDoc = cand.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_candidates"), max($"est").as("best_est"))
    batch.select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_candidates", lit(0L)).as("n_candidates"),
        round(coalesce($"best_est", lit(0.0)), 4).as("best_est"),
        (coalesce($"best_est", lit(0.0)) >= threshold).as("near_dup_of_history"))
      .orderBy($"doc_id")
  }

  private def minhashSignature(documents: DataFrame, shingleN: Int, numHashes: Int): DataFrame = {
    val grams = documents
      .select($"doc_id", explode(array_distinct(ngrams(tokens($"text"), shingleN))).as("gram"))
      .select($"doc_id", graft.functions.PolyHash($"gram").as("g"))
    val hashCols = (0 until numHashes).map { i =>
      val (a, b) = affine(i)
      min(($"g" * lit(a) + lit(b)) % lit(P)).as(s"h$i")
    }
    grams.groupBy($"doc_id").agg(hashCols.head, hashCols.tail: _*)
  }

  /** MinHash + LSH banding near-dup candidates: split the signature into
    * `bands` bands of `rows` hashes, bucket by (band, hash-of-band), emit
    * pairs sharing ≥1 bucket, then estimate Jaccard as the fraction of
    * agreeing signature positions. One shuffle to build signatures, one on
    * band keys, one thin self-join of bucket groups — no O(n²) anywhere.
    */
  def minhashLshPairs(documents: DataFrame, shingleN: Int = 3, bands: Int = 8,
                      rows: Int = 4, threshold: Double = 0.5): DataFrame =
    minhashLshPairsCore(documents, shingleN, bands, rows, threshold)
      .orderBy($"doc_a", $"doc_b")

  /** [[minhashLshPairs]] without the gate's presentation sort — what the
    * clustering compositions (d07/d15/d20/d21/t58) consume: they feed
    * the pairs straight into an edge-list union + label propagation, so
    * the global range sort would be pure waste (round-14, guide §2.4).
    */
  private def minhashLshPairsCore(documents: DataFrame, shingleN: Int,
                                  bands: Int, rows: Int,
                                  threshold: Double): DataFrame = {
    val numHashes = bands * rows
    // Band rows carry the FULL signature array alongside the band key, so
    // candidate generation and verification happen in one self-join — the
    // signature subtree is computed once, not re-joined per side (physical
    // plans showed no exchange reuse across the three sig consumers), and
    // since round-14 the band-row table is barriered so the 32-aggregate
    // signature build runs once, not once per self-join side.
    // Band bucket key = the band's raw signature slice (an array) rather
    // than a re-hash of it: equality on the slice is portable to the SQL
    // oracle and adds zero false candidates.
    val bandRows = graft.Session.barrier(
      bandedSignatures(documents, shingleN, bands, rows))
    lshPairsAcross(bandRows, bandRows, numHashes, threshold)
  }

  /** D21: the dedup REPORT — the one-row summary every production
    * dedup run prints before anyone trusts it (corpus size, cluster
    * count, duplicated-doc share in ppm, the largest cluster): a
    * mega-cluster is the classic symptom of a too-loose threshold or a
    * boilerplate-dominated corpus, and the dup share is the number the
    * data card quotes. Derived from [[dedupClusters]]' components
    * verbatim (one clustering kernel, three gates with d07/d20), so
    * the report can never disagree with the clusters it describes.
    *
    * Scale shape: d07's banded pipeline + one cluster-size fold + a
    * single-row summary.
    */
  def dedupReport(documents: DataFrame, threshold: Double = 0.5): DataFrame = {
    val sizes = dedupClustersCore(documents, 3, 8, 4, threshold)
      .groupBy($"cluster_id").agg(count(lit(1)).as("sz"))
    sizes.agg(
        sum($"sz").as("n_docs"),
        count(lit(1)).as("n_clusters"),
        sum(when($"sz" >= 2, 1L).otherwise(0L)).as("n_clusters_ge2"),
        sum(when($"sz" >= 2, $"sz").otherwise(0L)).as("n_dup_docs"),
        max($"sz").as("max_cluster"))
      .withColumn("dup_ppm", expr("(1000000 * n_dup_docs) div n_docs"))
  }

  /** T58: the effective-token BUDGET — the number a training run is
    * actually planned against: raw token counts discounted by the d20
    * soft-dedup weights (duplicated pages contribute ~one page of
    * tokens total), reported per source with the x15-style `__all__`
    * roll-up. Composes [[dedupWeights]] verbatim (one weighting kernel
    * — the budget cannot disagree with the dedup that produced it);
    * per-doc discount floors exactly once
    * (`(n_tokens·weight_ppm) div 10⁶`), then sums.
    *
    * Scale shape: d07's banded pipeline + one doc-keyed join + a
    * source-keyed fold.
    */
  def tokenBudget(documents: DataFrame, threshold: Double = 0.5): DataFrame = {
    val w = dedupWeightsCore(documents, 3, 8, 4, threshold)
      .select($"doc_id", $"weight_ppm")
    val toks = documents.select($"doc_id", $"source",
      TextAnalysis.wsTokenCount.cast("long").as("n_tokens"))
    val per = graft.Session.barrier(toks.join(w, Seq("doc_id"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("raw_tokens"),
        sum(expr("(n_tokens * weight_ppm) div 1000000")).as("eff_tokens")))
    per.unionByName(per.agg(sum($"n_docs").as("n_docs"),
        sum($"raw_tokens").as("raw_tokens"), sum($"eff_tokens").as("eff_tokens"))
      .select(lit("__all__").as("source"), $"n_docs", $"raw_tokens",
        $"eff_tokens"))
      .orderBy($"source")
  }

  /** MinHash calibration (d19): every LSH candidate pair's signature
    * ESTIMATE side by side with its EXACT shingle Jaccard and the
    * absolute error — the measurement that justifies (or retunes) the
    * band/row parameters before a production dedup run trusts the
    * estimate. Uses the d03 signature scheme verbatim (same shingles,
    * same 32 affine hashes, same band keys) with the threshold removed
    * and the estimate kept UNROUNDED until the error is formed.
    *
    * Scale shape: candidate generation is d03's banded join (never
    * all-pairs); the exact side is candidate-BOUNDED — each pair joins
    * only doc_a's barriered distinct-gram set, then a semi-join against
    * doc_b's probes membership, so the verify costs Σ|grams(a)| over
    * candidates, not corpus². The candidate relation is barriered: it
    * feeds three joins and must not re-run the band join per consumer.
    */
  def minhashCalibration(documents: DataFrame, shingleN: Int = 3,
                         bands: Int = 8, rows: Int = 4): DataFrame = {
    val numHashes = bands * rows
    // barriered (round-14, d03 discipline): the band-row table feeds both
    // sides of the candidate self-join — unbarriered, the 32-aggregate
    // signature build ran twice (the renamed sides don't canonicalize
    // equal, so no exchange reuse)
    val bandRows = graft.Session.barrier(
      bandedSignatures(documents, shingleN, bands, rows))
    val agree = aggregate(
      zip_with(col("a.sig"), col("b.sig"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), _ + _)
    val cand = graft.Session.barrier(bandRows.as("a")
      .join(bandRows.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (agree.cast("double") / lit(numHashes)).as("est"))
      .groupBy($"doc_a", $"doc_b")
      .agg(max($"est").as("est")))
    val grams = graft.Session.barrier(documents
      .select($"doc_id", explode(ngrams(tokens($"text"), shingleN)).as("gram"))
      .distinct())
    val sz = grams.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
    val inter = cand.select($"doc_a", $"doc_b")
      .join(grams.select($"doc_id".as("doc_a"), $"gram"), Seq("doc_a"))
      .join(grams.select($"doc_id".as("doc_b"), $"gram"), Seq("doc_b", "gram"),
        "left_semi")
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("n_inter"))
    val exact = coalesce($"n_inter", lit(0L)).cast("double") /
      ($"sz_a" + $"sz_b" - coalesce($"n_inter", lit(0L))).cast("double")
    cand
      .join(sz.select($"doc_id".as("doc_a"), $"sz".as("sz_a")), Seq("doc_a"))
      .join(sz.select($"doc_id".as("doc_b"), $"sz".as("sz_b")), Seq("doc_b"))
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .select($"doc_a", $"doc_b",
        round($"est", 4).as("est_jaccard"),
        coalesce($"n_inter", lit(0L)).as("n_inter"),
        ($"sz_a" + $"sz_b" - coalesce($"n_inter", lit(0L))).as("n_union"),
        round(exact, 4).as("exact_jaccard"),
        round(abs($"est" - exact), 4).as("abs_err"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** 60-bit SimHash per document: per-token portable hash (two independent
    * [[graft.functions.PolyHash]]es packed into 60 bits), each bit
    * contributes ±1, signature bit = sign of the sum. Near-dups share
    * signatures (or low Hamming distance); here we emit signature + bucket
    * size, the grouping stage of a SimHash dedup. Fully recomputable by the
    * DuckDB oracle (same hash, same bit arithmetic).
    */
  val simhashBits = 60
  def simhash(documents: DataFrame): DataFrame = {
    val tok = documents.select($"doc_id", explode(tokens($"text")).as("tok"))
      // two poly hashes (mult 31 / 131), each < P < 2³⁰, packed to 60 bits
      .withColumn("h",
        graft.functions.PolyHash($"tok", 31L) * lit(1L << 30) +
        graft.functions.PolyHash($"tok", 131L))
    val bitSums = (0 until simhashBits).map { k =>
      sum(when(shiftright($"h", k).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"b$k")
    }
    val sums = tok.groupBy($"doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sigCol = (0 until simhashBits)
      .map(k => when(col(s"b$k") > 0, lit(1L << k)).otherwise(lit(0L)))
      .reduce((a: Column, b: Column) => a.bitwiseOR(b))
    sums.select($"doc_id", sigCol.as("simhash"))
      .orderBy($"doc_id")
  }

  /** Embedding-cosine near-dup pairs, blocked by (`label`, hyperplane
    * bucket): candidate pairs must agree on the label AND on `nbits` random
    * hyperplane signs ([[graft.functions.Vectors.hyperplaneBucket]], the
    * same key Similarity.lshNearNeighbours shuffles on). Label alone is a
    * low-cardinality block — with k labels the work is Σ(n/k)², quadratic
    * in corpus size — while the bucket term multiplies the block count by
    * 2^nbits and keeps growing with nbits as the corpus grows. Cosine
    * near-dups (≥ ~0.95) land in the same bucket with probability
    * (1 − θ/π)^nbits ≈ 0.72^... high recall at the dedup thresholds that
    * matter; the oracle recomputes the identical buckets. Threshold is a
    * knob: real corpora dedup at ~0.95+; the synthetic fixture's vectors
    * are well-spread, so its demo entry uses a lower cut to exercise the
    * path.
    */
  def embeddingNearDups(embeddings: DataFrame, threshold: Double,
                        nbits: Int = 4): DataFrame = {
    import graft.functions.Vectors
    val side = embeddings
      .withColumn("bucket", Vectors.hyperplaneBucket($"embedding", nbits))
      .withColumn("nrm", Vectors.norm($"embedding"))
    side.as("a")
      .join(side.as("b"),
        col("a.label") === col("b.label") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos_sim", Vectors.cosineWithNorms(
        col("a.embedding"), col("b.embedding"), col("a.nrm"), col("b.nrm")))
      .where($"cos_sim" >= threshold)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
              round($"cos_sim", 4).as("cos_sim"))
      .orderBy($"vec_a", $"vec_b")
  }

  /** Cross-document duplicated-PASSAGE share — the distributed
    * approximation of exact-substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499, which uses a suffix array on a single machine): a
    * position's n-gram is *duplicated* if the same n-gram occurs in at
    * least one OTHER document, and a doc's `dup_span_share` is the
    * fraction of its tokens covered by the union of duplicated n-gram
    * spans. This is the signal that catches boilerplate PASSAGES
    * (licenses, headers, templates) inside otherwise-unique documents —
    * invisible to whole-document dedup (d01) and diluted in bag-of-grams
    * Jaccard (d02).
    *
    * Scale shape: positions explode once with 8-byte poly_hash gram
    * identities (no gram strings shuffle); the cross-doc test is one
    * aggregate on the hash (count distinct docs ≥ 2, 16-byte rows);
    * duplicated positions semi-join back; span coverage is an
    * interval-union via a lag window per doc (first gram covers n
    * tokens, each next adds min(n, gap)) — one shuffle keyed by doc_id.
    */
  def duplicatedSpans(documents: DataFrame, n: Int = 10): DataFrame = {
    val toks = tokens($"text")
    val pos = documents
      .select($"doc_id", posexplode(ngrams(toks, n)).as(Seq("pos", "gram")))
      .select($"doc_id", $"pos", graft.functions.PolyHash($"gram").as("g"))
    // "occurs in >=2 distinct docs" as min!=max: ONE combiner-friendly
    // exchange with constant per-key state — countDistinct would plan a
    // partial-dedup + second exchange over the full exploded position set
    // (the heavy stage of this operator)
    val dup = pos.groupBy($"g")
      .agg((min($"doc_id") =!= max($"doc_id")).as("crossdoc"))
      .where($"crossdoc")
      .select($"g")
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"doc_id").orderBy($"pos")
    val covered = pos.join(dup, Seq("g"), "left_semi")
      .withColumn("prev", lag($"pos", 1).over(w))
      .withColumn("contrib",
        when($"prev".isNull, lit(n)).otherwise(least(lit(n), $"pos" - $"prev")))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_dup_grams"),
           sum($"contrib").cast("long").as("covered_tokens"))
    documents
      .select($"doc_id", size(toks).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        coalesce($"n_dup_grams", lit(0L)).as("n_dup_grams"),
        coalesce($"covered_tokens", lit(0L)).as("covered_tokens"),
        (coalesce($"covered_tokens", lit(0L)).cast("double") /
          $"n_tokens".cast("double")).as("dup_span_share"))
      .orderBy($"doc_id")
  }

  /** SemDeDup-style semantic dedup decision (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space, and inside each
    * cluster drop every vector that has a semantic duplicate
    * (cosine ≥ `threshold`) with ANY smaller id, dropped or not — made
    * deterministic by ordering on vec_id. Note this is deliberately a
    * one-shot join predicate, not the paper's sequential survivors-only
    * sweep: on a similarity chain 1~2, 2~3, 1≁3 the sweep would keep
    * {1,3} (3 is only compared against the surviving 1) while this drops
    * both 2 and 3 — strictly more aggressive on chains, and expressible
    * as one join instead of an inherently sequential loop (chain-exact
    * semantics live in [[dedupClusters]], which takes connected
    * components and keeps one canonical doc per component). The paper
    * clusters with k-means; here the deterministic hyperplane bucket
    * stands in as the cluster assignment (the same coarse quantizer
    * [[graft.operators.Similarity.ivfTrained]] upgrades to a trained
    * codebook) so the oracle can recompute the identical partition.
    *
    * Emits EVERY vector with its cluster and a `dropped` flag rather than
    * just the survivors — the audit shape: `WHERE NOT dropped` is the
    * deduped corpus, and the flag column is what a pipeline reports.
    *
    * Scale shape: one bucket equi-join for the dominance test (left-semi,
    * so matched rows collapse instead of multiplying), then a broadcast-
    * able join of the dropped-id set back onto the corpus. Work per
    * bucket is bounded by bucket size exactly as in
    * [[embeddingNearDups]]; nothing is quadratic in the corpus.
    */
  def semDedup(embeddings: DataFrame, threshold: Double, nbits: Int = 4): DataFrame = {
    import graft.functions.Vectors
    val side = embeddings
      .withColumn("bucket", Vectors.hyperplaneBucket($"embedding", nbits))
      .withColumn("nrm", Vectors.norm($"embedding"))
    // a vector is dominated iff some same-bucket vector with a smaller id
    // sits within the similarity threshold
    val dominated = side.as("b")
      .join(side.as("a"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id") &&
          Vectors.cosineWithNorms(
            col("a.embedding"), col("b.embedding"), col("a.nrm"), col("b.nrm")) >= threshold,
        "left_semi")
      .select($"vec_id".as("dom_id"))
    side.join(dominated.withColumn("is_dom", lit(true)),
        $"vec_id" === $"dom_id", "left")
      .select($"vec_id", $"label", $"bucket",
              coalesce($"is_dom", lit(false)).as("dropped"))
      .orderBy($"vec_id")
  }

  /** Near-dup CLUSTERS: the step after candidate pairs that an actual
    * dedup pipeline needs — connected components over the pair graph, one
    * canonical survivor per component. Pairs come from MinHash+LSH
    * ([[minhashLshPairs]], bounded candidate generation); components are
    * found by iterative min-label propagation (each round every doc takes
    * the minimum cluster label among itself and its neighbours) — the
    * standard large-scale CC shape: O(diameter) rounds of one
    * shuffle-join + one aggregate each, with a barrier per round cutting
    * lineage so round N's plan doesn't re-derive rounds 1..N−1. Near-dup
    * graphs are overwhelmingly tiny cliques (diameter ≤ 2-3), so this
    * converges in 2-4 rounds regardless of corpus size. Output: every doc
    * with its cluster id (= min doc_id in its component) and whether it's
    * the component's canonical keeper.
    */
  def dedupClusters(documents: DataFrame, shingleN: Int = 3, bands: Int = 8,
                    rows: Int = 4, threshold: Double = 0.5,
                    maxRounds: Int = 20): DataFrame =
    dedupClustersCore(documents, shingleN, bands, rows, threshold, maxRounds)
      .orderBy($"doc_id")

  /** [[dedupClusters]] without the gate sort — the composition form
    * (d15/d20/d21/t58 aggregate or join it immediately; round-14). */
  private def dedupClustersCore(documents: DataFrame, shingleN: Int,
                                bands: Int, rows: Int, threshold: Double,
                                maxRounds: Int = 20): DataFrame = {
    val pairs = minhashLshPairsCore(documents, shingleN, bands, rows, threshold)
      .select($"doc_a", $"doc_b")
    // undirected edges, both directions, deduped; propagation runs in
    // [[Graph.minLabelComponents]] — the shared CC kernel (one
    // shuffle-join + aggregate per round, own-label convergence signal,
    // a barrier per round, loud failure when maxRounds runs out)
    val edges = pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
      .unionByName(pairs.select($"doc_b".as("src"), $"doc_a".as("dst")))
      .distinct()
    Graph.minLabelComponents(edges,
        documents.select($"doc_id".as("node"), $"doc_id".as("label")),
        maxRounds)
      .select($"node".as("doc_id"), $"label".as("cluster_id"))
      .withColumn("is_canonical", ($"doc_id" === $"cluster_id").cast("boolean"))
  }

  /** D20: SOFT dedup — down-weight near-duplicate clusters instead of
    * dropping members, the alternative policy modern data mixes use
    * (a document duplicated k times contributes total weight 1, so
    * popular pages aren't over-represented but aren't erased either;
    * cf. the repetition-penalty ablations in the dedup literature).
    * Weights in exact ppm: weight_ppm = 1000000 div cluster_size —
    * singletons keep 1000000, a pair 500000 each, and Σ weights per
    * cluster stays within [1000000 − size + 1, 1000000] (floor loss
    * only), so the corpus' effective size is the cluster count.
    *
    * Scale shape: [[dedupClusters]]'s banded-candidate + label-prop
    * pass, then one cluster-keyed count and one co-partitioned join —
    * both keyed by cluster_id, id-sized rows.
    */
  def dedupWeights(documents: DataFrame, shingleN: Int = 3, bands: Int = 8,
                   rows: Int = 4, threshold: Double = 0.5): DataFrame =
    dedupWeightsCore(documents, shingleN, bands, rows, threshold)
      .orderBy($"doc_id")

  /** [[dedupWeights]] without the gate sort; cluster sizes ride a WINDOW
    * count over cluster_id instead of a count table + join back
    * (round-14, guide §2.4 — one exchange, single consumption). */
  private def dedupWeightsCore(documents: DataFrame, shingleN: Int,
                               bands: Int, rows: Int,
                               threshold: Double): DataFrame =
    dedupClustersCore(documents, shingleN, bands, rows, threshold)
      .select($"doc_id", $"cluster_id")
      .withColumn("cluster_size", count(lit(1)).over(
        Window.partitionBy($"cluster_id")))
      .select($"doc_id", $"cluster_id", $"cluster_size",
        expr("1000000 div cluster_size").as("weight_ppm"))

  /** Near-dup clusters with a QUALITY-AWARE keeper (d15): the production
    * dedup policy is rarely "keep the smallest id" — it's "keep the best
    * member of each near-dup cluster" (longest, highest quality score,
    * freshest crawl). This takes [[dedupClusters]]'s components and elects
    * the member with the most whitespace tokens (doc_id tiebreak) as the
    * keeper — "prefer the fullest copy", the policy CC-pipeline dedup
    * stages actually apply when a page is crawled both truncated and
    * complete. Every doc is emitted with its cluster, its token count, and
    * its `keep` verdict (singletons keep themselves); the deduped corpus
    * is `WHERE keep`.
    *
    * Scale shape: the cluster pass is [[dedupClusters]] (banded candidate
    * join + O(diameter) label-propagation rounds); the election adds one
    * doc_id equi-join against a (doc_id, n_tokens) projection and a
    * row_number window PARTITIONED by cluster_id — near-dup clusters are
    * tiny cliques, so the window never sees a giant partition (a
    * degenerate all-dups corpus would first blow up candidate generation,
    * which the banding already bounds).
    */
  def canonicalByQuality(documents: DataFrame, shingleN: Int = 3,
                         bands: Int = 8, rows: Int = 4,
                         threshold: Double = 0.5): DataFrame = {
    val clusters = dedupClustersCore(documents, shingleN, bands, rows, threshold)
      .select($"doc_id", $"cluster_id")
    val quality = documents
      .select($"doc_id", TextAnalysis.wsTokenCount.as("n_tokens"))
    val w = Window.partitionBy($"cluster_id")
      .orderBy($"n_tokens".desc, $"doc_id".asc)
    clusters
      .join(quality, Seq("doc_id"))
      .withColumn("keep", row_number().over(w) === 1)
      .select($"doc_id", $"cluster_id", $"n_tokens", $"keep")
      .orderBy($"doc_id")
  }

  /** SimHash bucket dedup: docs sharing an identical 64-bit signature. */
  def simhashDuplicates(documents: DataFrame): DataFrame =
    simhash(documents)
      .groupBy($"simhash")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("bucket_size"))
      .where($"bucket_size" > 1)
      .orderBy($"keep_id")

  /** SimHash HAMMING-neighbor pairs (d17) — the Manku/Jain/Das Sarma 2007
    * web-dedup shape d04's exact-signature buckets can't reach: two
    * near-dups whose signatures differ in a few bits land in different
    * buckets, so finding them needs a Hamming-distance join, and the
    * naive form is all-pairs popcount. The pigeonhole split makes it an
    * equi-join: cut the signature into `maxHamming + 1` bands — ≤
    * maxHamming bit flips leave at least one band INTACT, so every
    * qualifying pair shares some (band index, band value) key. Candidate
    * generation is bands× the corpus in shuffle volume, bucket sizes are
    * popcount-balanced at any corpus size (signature bits are
    * hash-uniform), and the exact `bit_count(xor)` verify runs only on
    * candidates — never all pairs. The signature relation is barriered
    * once and feeds both join sides.
    */
  def simhashHammingPairs(documents: DataFrame, maxHamming: Int = 3,
                          maxBandFreq: Option[Int] = None): DataFrame = {
    require(maxHamming >= 0 && simhashBits % (maxHamming + 1) == 0,
      s"simhashHammingPairs: bands must split $simhashBits bits evenly, got maxHamming=$maxHamming")
    val bands = maxHamming + 1
    val bandBits = simhashBits / bands
    val mask = (1L << bandBits) - 1
    val sig = graft.Session.barrier(simhash(documents))
    val bandedAll = sig.select($"doc_id", $"simhash",
        explode(array((0 until bands).map(k => struct(
          lit(k).as("k"),
          shiftright($"simhash", k * bandBits).bitwiseAND(lit(mask)).as("bv"))): _*)).as("b"))
      .select($"doc_id", $"simhash", $"b.k", $"b.bv")
    // hot-band cap (d06's maxDocFreq lesson): on a degenerate corpus —
    // tiny vocabulary, near-constant signature region — a single band
    // value can hold a large corpus fraction and the candidate join goes
    // Σ bucket². The cap DROPS those buckets: a pair loses only the
    // chances it had in over-hot bands (its other bands still fire), so
    // recall degrades only where the corpus is degenerate. Exact mode
    // (None) is the gate default; the TRUE result there is itself
    // quadratic on such corpora (SCALE.md d17 note), not a plan defect.
    val banded = maxBandFreq match {
      case None => bandedAll
      case Some(cap) =>
        val sized = bandedAll.groupBy($"k", $"bv").agg(count(lit(1)).as("bn"))
        bandedAll.join(sized.where($"bn" <= cap).select($"k", $"bv"), Seq("k", "bv"))
    }
    banded.as("a").join(banded.as("b"),
        col("a.k") === col("b.k") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .distinct()
      .withColumn("hamming", bit_count($"sa".bitwiseXOR($"sb")).cast("long"))
      .where($"hamming" <= maxHamming)
      .select($"a_id", $"b_id", $"hamming")
      .orderBy($"a_id", $"b_id")
  }

  /** [[duplicatedSpans]] APPLIED (d13): rebuild every document with the
    * tokens covered by a cross-document duplicated `n`-gram removed — the
    * passage-level dedup Lee et al. 2022 (arXiv:2107.06499) perform with
    * suffix arrays, as a distributed plan. d10 measures the boilerplate
    * share; this emits the scrubbed corpus.
    *
    * Coverage is resolved in ONE linear window pass per document, no
    * range join: token rows and duplicated-gram START rows (cover length
    * `n`) union into one per-doc event stream ordered by position (starts
    * before tokens at equal position), and a running max of
    * `start + n` decides each token — covered iff the running max exceeds
    * its position. Work is O(tokens) per doc after the same cross-doc
    * gram aggregate d10 pays; the rebuilt text is a per-doc sort of kept
    * tokens (array_sort of (pos, token) structs — spillable group state,
    * no driver funnel).
    *
    * Output text is token-normalized by construction (lowercased,
    * single-spaced) — the scrub operates on the same `\s+` token stream
    * as every other dedup operator; a doc whose every token is covered
    * emits an empty string, not NULL.
    */
  def scrubDuplicatedSpans(documents: DataFrame, n: Int = 10): DataFrame = {
    val toks = tokens($"text")
    val pos = documents
      .select($"doc_id", posexplode(ngrams(toks, n)).as(Seq("pos", "gram")))
      .select($"doc_id", $"pos", graft.functions.PolyHash($"gram").as("g"))
    val dup = pos.groupBy($"g")
      .agg((min($"doc_id") =!= max($"doc_id")).as("crossdoc"))
      .where($"crossdoc")
      .select($"g")
    val starts = pos.join(dup, Seq("g"), "left_semi")
      .select($"doc_id", $"pos", lit(0).as("istok"), lit(null).cast("string").as("tok"))
    val tokRows = documents
      .select($"doc_id", posexplode(toks).as(Seq("pos", "tok")))
      .select($"doc_id", $"pos", lit(1).as("istok"), $"tok")
    val w = Window.partitionBy($"doc_id").orderBy($"pos", $"istok")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kept = starts.unionByName(tokRows)
      .withColumn("covered_until",
        max(when($"istok" === 0, $"pos" + n).otherwise(lit(-1))).over(w))
      .where($"istok" === 1 && $"covered_until" <= $"pos")
    val rebuilt = kept.groupBy($"doc_id")
      .agg(count(lit(1)).as("kept_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct($"pos", $"tok"))),
          x => x.getField("tok"))).as("scrubbed_text"))
    documents
      .select($"doc_id", size(toks).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        coalesce($"kept_tokens", lit(0L)).as("kept_tokens"),
        coalesce($"scrubbed_text", lit("")).as("scrubbed_text"))
      .orderBy($"doc_id")
  }
}
