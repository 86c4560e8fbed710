package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Text-analysis and deduplication operators for large-scale document
  * pipelines (SURVEY.md §7 north-star set): tokenization, quality scoring,
  * stopword-based language ID, document fingerprinting, exact dedup,
  * n-gram-Jaccard near-dup pairing, MinHash signatures/LSH banding, SimHash.
  *
  * All operators are pure `functions._` compositions (higher-order array
  * functions, no UDFs) so they stay inside WholeStageCodegen and their exact
  * results are reproducible in the DuckDB oracle.
  *
  * Scale notes: everything is per-row except the near-dup joins, which
  * shuffle by shingle/bucket hash — the standard LSH trick keeps candidate
  * pairs ~linear in corpus size instead of the quadratic all-pairs join.
  */
object TextOps {

  /** Whitespace tokenization. */
  def tokens(text: Column): Column = split(text, " ")

  /** Word n-gram shingles from a token array (guarded for short docs).
    *
    * IMPORTANT: pass a materialized COLUMN of tokens (project `tokens(...)`
    * into its own select first), not an inline `split(...)` expression —
    * Catalyst inlines the argument into every `element_at` inside the
    * lambda, so an inline split would be re-evaluated ~3n times per row.
    */
  def shingles(toks: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + lit(k))): _*))
    when(size(toks) >= n, grams).otherwise(array().cast("array<string>"))
  }

  /** Language → marker stopwords, in deterministic priority order.
    * A tiny n-gram-free heuristic language ID: argmax of marker hits.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "la", "de", "los"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "les", "des", "est"),
    "zh" -> Seq("的", "是", "了", "在")
  )

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  def stopwordCount(toks: Column, stops: Seq[String]): Column =
    size(filter(toks, t => array_contains(typedLit(stops), t)))

  /** doc_id, n_tokens, n_uniq_tokens. */
  def tokenStats(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    docs.select(col("doc_id"), size(t).as("n_tokens"),
      size(array_distinct(t)).as("n_uniq_tokens"))
  }

  /** Quality metrics: token counts, stopword ratio, average token length.
    * (length/punct/stopword-ratio family of quality filters.)
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    docs
      .select(col("doc_id"), length(col("text")).as("n_chars"), t.as("toks"))
      .select(col("doc_id"), col("n_chars"), size(col("toks")).as("n_tokens"),
        stopwordCount(col("toks"), Stopwords).as("n_stop"))
      .select(col("doc_id"), col("n_tokens"), col("n_stop"),
        round(col("n_stop").cast("double") / col("n_tokens"), 4)
          .as("stop_ratio"),
        round((col("n_chars") - (col("n_tokens") - 1)).cast("double") /
          col("n_tokens"), 4).as("avg_token_len"))
  }

  /** Heuristic language ID: per-language marker-stopword hit counts plus the
    * argmax prediction (ties resolved by [[LangMarkers]] order).
    */
  def languageId(docs: DataFrame): DataFrame = {
    val scored = docs
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id") +: col("lang").as("lang_actual") +:
          LangMarkers.map { case (l, ms) =>
            stopwordCount(col("toks"), ms).as(s"c_$l") }: _*)
    val scores = LangMarkers.map { case (l, _) => col(s"c_$l") }
    val mx = greatest(scores: _*)
    // first language (declaration order) reaching the max score wins
    val predicted = LangMarkers.foldRight(lit(null): Column) {
      case ((l, _), els) => when(col(s"c_$l") === mx, lit(l)).otherwise(els)
    }
    scored.withColumn("lang_pred", predicted)
  }

  /** Document fingerprint: portable 60-bit content hash (exact-dup key). */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Hashing.hash60(col("text")).as("fp"))

  /** BPE-ish tokenization: letter runs, digit runs, and single punctuation
    * marks as separate tokens (the subword-ish pre-tokenization regex shape;
    * RE2/Java-regex portable).
    */
  val BpeTokenRegex = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Whitespace vs BPE-ish token counts per document. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit(BpeTokenRegex), lit(0)))
        .cast("long").as("n_bpe_tokens"))

  /** Order-sensitive rolling-hash fingerprint: fold the per-token portable
    * hashes with h -> (h*31 + tokHash) mod P. Unlike [[fingerprint]] (whole
    * text), this survives whitespace normalization differences and is the
    * incremental form used for shingle-free streaming fingerprints.
    */
  def rollingFingerprint(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        transform(col("toks"), t => Hashing.hash60Mod(t)).as("hs"))
      .select(col("doc_id"),
        aggregate(col("hs"), lit(0L),
          (h, x) => (h * 31 + x) % Hashing.P).as("rfp"))

  /** Exact deduplication: one representative (min doc_id) per distinct text,
    * with the duplicate count. A single hash-shuffle on the text.
    */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_count"))

  /** Canonical-survivor selection: among documents sharing a normalized-text
    * fingerprint (the exact-dup group after whitespace/punctuation noise),
    * keep the single best — longest first, doc_id as the total tiebreak.
    * The curation step after dedup DETECTION: downstream consumers want one
    * row per content, and WHICH row survives must be deterministic. One
    * hash-shuffle on the fingerprint; the per-group window never sees more
    * rows than a group's duplicate count.
    */
  def dedupKeepBest(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("fp")
      .orderBy(col("n_chars").desc, col("doc_id"))
    docs
      .withColumn("fp", Hashing.hash60(normalizeText(col("text"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "lang", "source", "n_chars", "fp")
  }

  /** Corpus vocabulary: top-k tokens by document frequency — the vocab-
    * building pass of tokenizer training. Explode + per-doc distinct + one
    * count aggregation; the global top-k is orderBy+limit, which Spark
    * plans as TakeOrderedAndProject (per-partition partial top-k, k-way
    * driver merge), never a single-partition global sort. (df DESC, term
    * ASC) is a total order, so the k-boundary cut is deterministic across
    * engines and partitionings.
    */
  /** Constant partition key for a rank-assigning window over a frame a
    * preceding orderBy+limit(k) has ALREADY bounded to ≤k rows. Window
    * semantics are identical to a partition-less spec (every row lands in
    * the one group), but the key is deliberately NON-FOLDABLE
    * (`pmod(c, 1)` ≡ 0 for any integral value, and Catalyst does not
    * simplify it — `c * 0` does NOT work: ConstantFolding folds
    * multiply-by-zero when the attribute side is non-nullable, e.g. a
    * count(1) alias) so Spark 4's `EliminateWindowPartitions` cannot
    * strip it back to an empty partition spec: an empty spec makes
    * WindowExec log its "No Partition Defined" scale warning, which flags
    * UNBOUNDED single-partition funnels — exactly the hazard the limit
    * upstream already eliminated. Only ever use downstream of a row-count
    * bound; an unbounded input would genuinely funnel one partition.
    * Null-safe: `pmod(null, 1)` is null, which would split the window
    * into a null-key group and a 0-key group and silently corrupt global
    * ranks — the coalesce pins every row (null or not) to the one group.
    * (NullPropagation strips the coalesce when the caller's column is
    * non-nullable, so the current non-null call sites pay nothing.)
    */
  private[graft] def boundedSingleGroup(key: Column): Column =
    pmod(coalesce(key, lit(0)), lit(1))

  def vocabulary(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term"))
      .limit(k)

  /** Exploded (doc_id, shingle) pairs, distinct per doc.
    *
    * ScanPar (r13): tokenize + shingle-build + explode + the downstream
    * per-shingle hashing all run in the scan stage; a local
    * single-row-group input serializes them onto one core. No-op at
    * production scan sizes (and a ~1 MB re-exchange when the caller hands
    * an already-redistributed derived frame — the gate only sees files).
    */
  def docShingles(docs: DataFrame, n: Int): DataFrame =
    graft.util.ScanPar(docs, col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("toks"), n))).as("shingle"))

  /** Per-doc SORTED distinct shingle-hash sets with their size — the input
    * of the prefix-filtered exact join. Pure projection, no shuffle.
    */
  private def shingleHashSets(docs: DataFrame, n: Int): DataFrame =
    // ScanPar measured and REJECTED here (r14 ABBA, 2 samples/arm at
    // sf0.1/32c: ON 1.73/1.74s vs OFF 1.58/1.59s for ngram_jaccard_pairs,
    // this frame's only consumer): the row's cost is the post-shuffle
    // prefix self-join, and the added exchange only delays it. This
    // adjudicates the r13 driver regression (0.78x) as a real, small
    // cost — now removed.
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), array_distinct(shingles(col("toks"), n)).as("sh"))
      .select(col("doc_id"), array_sort(array_distinct(
        transform(col("sh"), s => Hashing.hash60Mod(s)))).as("hs"))
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_sh"),
        col("hs"))

  /** Materialize a frame that the downstream plan references several times.
    *
    * Catalyst does not dedupe diamond DAGs: a self-join plus two
    * verification joins re-evaluates its input subtree once per reference
    * (4x for [[ngramJaccardPairs]] — measured 3x slower end-to-end at
    * sf0.1). `persist` computes it once into executor block storage
    * (memory, spilling to disk), so every reference reads the cached
    * blocks. Chosen over `localCheckpoint()` deliberately: persist KEEPS
    * lineage and laziness, so a lost executor recomputes its partitions
    * instead of failing the whole job (checkpoint blocks are not
    * recomputable — a reliability regression at 1000-executor scale), and
    * no Spark job fires at DataFrame-construction time. The stored table
    * is the HASH-set form (8 bytes per shingle), far smaller than the
    * source text, so it stays executor-resident even at corpus scale;
    * blocks are LRU-evicted (and recomputed if re-read) once the query
    * finishes, so not calling unpersist leaks no correctness, only cache
    * residency.
    */
  private def materialized(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Exact near-duplicate pairs by word-n-gram Jaccard >= num/den, computed
    * on the per-doc distinct shingle-hash SETS.
    *
    * Two exactness-preserving prunes make the quadratic candidate join
    * tractable at corpus scale (Bayardo et al.'s AllPairs scheme):
    *   1. size compatibility — J <= min/max forces `den*min >= num*max`;
    *   2. prefix filtering — given (1), J >= t implies overlap >= t*|x| for
    *      both docs, so any qualifying pair must collide within the first
    *      `|x| - ceil(t*|x|) + 1` hashes of the globally-sorted sets; only
    *      those prefixes enter the join.
    * Candidates are then verified with an exact sorted-set intersection.
    * Thresholds stay integer arithmetic end to end, so the DuckDB oracle
    * comparison is exact.
    */
  def ngramJaccardPairs(
      docs: DataFrame, n: Int, num: Int, den: Int): DataFrame = {
    // referenced 4x below (prefix self-join a/b + verification x/y)
    val sized = materialized(shingleHashSets(docs, n))
    // prefix length = n_sh - ceil(t*n_sh) + 1, integer-only
    val prefLen = greatest(lit(1),
      col("n_sh") - expr(s"(n_sh * $num + ${den - 1}) div $den") + 1)
    val pref = sized.select(col("doc_id"), col("n_sh"),
      explode(slice(col("hs"), lit(1), prefLen)).as("h"))
    val cand = pref.as("a").hint("shuffle_hash").join(pref.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n_sh") * den >= col("b.n_sh") * num &&
          col("b.n_sh") * den >= col("a.n_sh") * num)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sized.as("x"), col("doc_a") === col("x.doc_id"))
      .join(sized.as("y"), col("doc_b") === col("y.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("x.hs"), col("y.hs"))).cast("long")
          .as("inter"),
        col("x.n_sh").as("na"), col("y.n_sh").as("nb"))
      .filter(col("inter") * den >= (col("na") + col("nb") - col("inter")) * num)
  }

  /** The at-scale near-dup pipeline: MinHash-LSH band candidates (linear in
    * corpus size) verified by exact Jaccard computed ONLY for candidate
    * pairs. Returns the same columns as [[ngramJaccardPairs]]; recall is
    * bounded by the LSH banding, precision is exact.
    */
  def lshNearDupPairs(
      docs: DataFrame, n: Int, rows: Int, num: Int, den: Int,
      maxBucket: Int = 0): DataFrame = {
    val cand = minhashCandidatePairs(docs, n, rows, maxBucket)
    // Verification joins the (small) candidate set back to whole shingle
    // ARRAYS and intersects per pair — no second exploded-shingle shuffle.
    // Materialized: referenced by both the doc_a and doc_b join sides.
    val withSh = materialized(docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        array_distinct(shingles(col("toks"), n)).as("sh")))
    cand
      .join(withSh.as("a"), col("doc_a") === col("a.doc_id"))
      .join(withSh.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("long").as("inter"),
        size(col("a.sh")).cast("long").as("na"),
        size(col("b.sh")).cast("long").as("nb"))
      .filter(col("inter") * den >= (col("na") + col("nb") - col("inter")) * num)
  }

  /** MinHash signatures: k portable universal hashes minimized over the
    * doc's shingle set (k = [[Hashing.MinhashA]].length). Columns
    * `doc_id, mh0..mh{k-1}`.
    */
  def minhashSignatures(docs: DataFrame, n: Int): DataFrame = {
    val h = Hashing.hash60Mod(col("shingle"))
    val e = docShingles(docs, n).select(col("doc_id"), h.as("h"))
    val mins = Hashing.MinhashA.zip(Hashing.MinhashB).zipWithIndex.map {
      case ((a, b), i) => min((lit(a) * col("h") + lit(b)) % Hashing.P).as(s"mh$i")
    }
    e.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** MinHash-LSH candidate pairs: signatures banded `rows` hashes per band;
    * docs sharing any full band land in the same bucket and become a
    * candidate pair. Verification (exact Jaccard) is [[ngramJaccardPairs]]
    * restricted to candidates — at scale this replaces the all-shingle join.
    *
    * `maxBucket` is the hot-bucket skew guard: LSH buckets are small by
    * construction on DIVERSE text, but boilerplate (templates, empty docs,
    * mirrored pages) lands thousands-to-millions of near-identical docs in
    * ONE bucket, and the all-pairs expansion is quadratic in bucket
    * population — the classic dedup scale-killer. With `maxBucket > 0`,
    * buckets above the cap emit STAR edges (every member paired with the
    * bucket-min doc id) instead of all pairs: linear in bucket size, fully
    * deterministic, and for the survivor/cluster use the hub keeps the
    * component connected — a mega-bucket is near-identical content, so
    * hub-edge verification reaches the same keep/drop decision while the
    * uncapped expansion would materialize O(n²) pairs that all say the
    * same thing. Capped buckets trade PAIR ENUMERATION completeness (a
    * non-hub pair inside an oversized bucket is reported only if another,
    * small bucket also catches it) for bounded work; `maxBucket = 0`
    * (default) disables the cap — the exact-enumeration contract the
    * battery rows certify.
    */
  def minhashCandidatePairs(docs: DataFrame, n: Int, rows: Int,
      maxBucket: Int = 0): DataFrame = {
    val sig = minhashSignatures(docs, n)
    val k = Hashing.MinhashA.length
    val bands = (0 until k / rows).map { bnd =>
      struct(lit(bnd).as("band") +:
        (0 until rows).map(r => col(s"mh${bnd * rows + r}").as(s"h$r")): _*)
    }
    // One signature pass: group doc ids per bucket, emit pairs with a
    // higher-order-function expansion (bucket populations are bounded by
    // the cap; without a cap, small by LSH construction on diverse text).
    val allPairs =
      """flatten(transform(ids, (x, i) ->
        |  transform(slice(ids, i + 2, size(ids)),
        |    y -> struct(x AS doc_a, y AS doc_b))))""".stripMargin
    val starPairs =
      """transform(slice(ids, 2, size(ids)),
        |  y -> struct(element_at(ids, 1) AS doc_a, y AS doc_b))""".stripMargin
    val pairsExpr =
      if (maxBucket <= 0) allPairs
      else s"CASE WHEN size(ids) > $maxBucket THEN $starPairs ELSE $allPairs END"
    sig.select(col("doc_id"), explode(array(bands: _*)).as("bucket"))
      .groupBy("bucket")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(pairsExpr)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
  }

  /** Deterministic hash-based sampling: keep rows whose key hashes into the
    * first `pct` of 100 buckets. Unlike `rand()`-based sampling this is
    * reproducible across engines, runs, and partitionings — the property
    * training-data pipelines need for auditable subsets.
    */
  def deterministicSample(df: DataFrame, keyCol: String, pct: Int): DataFrame =
    df.filter(keyBucket(keyCol) < pct)

  /** The shared 100-bucket membership expression both samplers filter on
    * (and the DuckDB oracles mirror): portable hash of the key mod 100.
    */
  private def keyBucket(keyCol: String): Column =
    pmod(Hashing.hash60(col(keyCol).cast("string")), lit(100L))

  /** Weighted dataset mixing: per-source deterministic sampling rates —
    * the "2 epochs of wiki, 0.3 of common crawl" mixture step of a
    * training-data pipeline, as a pure per-row filter (no shuffle, no
    * rand(): membership is a function of the key, so the mixture is
    * reproducible across engines, runs, and partitionings, and a source's
    * subset at rate p is a SUBSET of its rate-q subset for p < q —
    * mixtures can be dialed without resampling). Rates are integer
    * percents; sources absent from the map use `defaultPct`.
    */
  def weightedMix(df: DataFrame, keyCol: String, srcCol: String,
      pctBySource: Map[String, Int], defaultPct: Int): DataFrame = {
    val rate = pctBySource.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultPct)) { case (acc, (s, p)) =>
        when(col(srcCol) === s, lit(p)).otherwise(acc)
      }
    df.filter(keyBucket(keyCol) < rate)
  }

  /** Exact-N-per-stratum deterministic sampling: the top `n` rows of each
    * stratum by portable key-hash priority (key as total tiebreak) — the
    * "at most N documents per domain" quota that pct-based
    * [[stratifiedSample]] cannot guarantee. Hash priority makes the chosen
    * subset a pure function of the keys: stable across runs, engines, and
    * partitionings, and growing a stratum only swaps members by priority,
    * never reshuffles the whole sample. One shuffle on the stratum column;
    * each window partition is one stratum.
    */
  def prioritySample(
      df: DataFrame, keyCol: String, strataCol: String, n: Int): DataFrame = {
    val w = Window.partitionBy(strataCol)
      .orderBy(Hashing.hash60(col(keyCol).cast("string")), col(keyCol))
    df.withColumn("__pri_rn", row_number().over(w))
      .filter(col("__pri_rn") <= n)
      .drop("__pri_rn")
  }

  /** Deterministic train/val/test split: assign each row a split label from
    * its key-hash bucket (0..99) — `valPct` buckets to val, `testPct` to
    * test, the rest to train. The same reproducibility contract as
    * [[deterministicSample]]: membership is a pure function of the key, so
    * re-running the pipeline (or re-partitioning the corpus) never moves a
    * document across splits — the property that keeps eval sets stable as
    * the corpus grows. Per-row projection, no shuffle.
    */
  def datasetSplit(
      df: DataFrame, keyCol: String, valPct: Int, testPct: Int): DataFrame = {
    val b = keyBucket(keyCol)
    df.withColumn("split",
      when(b < valPct, "val")
        .when(b < valPct + testPct, "test")
        .otherwise("train"))
  }

  /** LEAKAGE-SAFE variant of [[datasetSplit]]: near-duplicate cluster
    * members are assigned to the SAME split, so a doc's near-copy can
    * never leak from train into val/test — the failure mode a plain
    * per-doc hash split cannot prevent (the copies hash independently).
    * `clusters` is [[dedupClusters]] output; every member keys on its
    * cluster's canonical (min) id, unclustered docs on their own id, and
    * the label comes from the same hash-bucket rule as [[datasetSplit]].
    *
    * Scale shape: the cluster table is DUPLICATE-sized, not corpus-sized
    * (only docs with a near-dup edge appear), so the join broadcasts;
    * the labeling stays a per-row projection.
    */
  def leakageSafeSplit(df: DataFrame, clusters: DataFrame,
      valPct: Int, testPct: Int): DataFrame = {
    val cl = clusters.select(col("doc_id"), col("cluster_id"))
    val keyed = df.join(cl, Seq("doc_id"), "left")
      .withColumn("split_key", coalesce(col("cluster_id"), col("doc_id")))
    val b = pmod(Hashing.hash60(col("split_key").cast("string")), lit(100L))
    keyed.withColumn("split",
      when(b < valPct, "val")
        .when(b < valPct + testPct, "test")
        .otherwise("train"))
  }

  /** Decontamination: flag training documents sharing at least `minShared`
    * distinct word n-grams with ANY document of the held-out corpus — the
    * train/eval overlap check run before training. One semi-ish join on
    * the shingle hash: the eval side reduces to a distinct hash set
    * (small — eval corpora are), the train side streams through it, and
    * the result is per-train-doc shared-shingle counts. Exact n-gram
    * containment, not similarity: eval contamination is about verbatim
    * leakage.
    */
  def decontaminate(
      train: DataFrame, holdout: DataFrame, n: Int,
      minShared: Int): DataFrame = {
    val trainSh = docShingles(train, n)
      .select(col("doc_id"), Hashing.hash60Mod(col("shingle")).as("h"))
    val evalSh = docShingles(holdout, n)
      .select(Hashing.hash60Mod(col("shingle")).as("h")).distinct()
    trainSh.join(evalSh, Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minShared)
  }

  /** Stratified deterministic sampling: per-stratum keep rates (percent of
    * 100 hash buckets), the dataset-mixing primitive — e.g. keep 100% of
    * one source and 10% of another to hit a target mixture. Same
    * reproducibility contract as [[deterministicSample]]: membership
    * depends only on the key, never on partitioning, run, or engine.
    * Strata absent from `rates` fall back to `defaultPct`.
    */
  def stratifiedSample(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      rates: Map[String, Int],
      defaultPct: Int = 0): DataFrame = {
    val pct = rates.foldLeft(lit(defaultPct)) { case (e, (stratum, p)) =>
      when(col(strataCol) === stratum, lit(p)).otherwise(e)
    }
    df.filter(keyBucket(keyCol) < pct)
  }

  /** Sequence packing: assign documents (ordered by `orderCol`) to fixed
    * token-capacity packs — the pretraining-batch construction step. A
    * document's pack is `floor(cumulative-tokens-before-it / capacity)`
    * (prefix-sum binning: a document may straddle a boundary; exact
    * greedy repacking is inherently sequential and done downstream per
    * pack). One window over the chosen global order — which Spark executes
    * on a SINGLE partition; this form is the small-corpus baseline and the
    * oracle cross-check. At corpus scale use [[sequencePackingSharded]],
    * which computes the identical output through a partitioned window.
    */
  def sequencePacking(
      docs: DataFrame, tokenCol: String, orderCol: String,
      capacity: Long): DataFrame = {
    require(capacity > 0, s"pack capacity must be positive, got $capacity")
    val w = Window.orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("cum_tokens", sum(col(tokenCol)).over(w))
      .withColumn("pack_id",
        ((col("cum_tokens") - col(tokenCol)) / capacity).cast("long"))
  }

  /** Scale-safe [[sequencePacking]]: the same global prefix-sum binning,
    * computed as a two-pass distributed prefix sum so NO window ever sees
    * more than one shard — the classic parallel scan decomposition.
    *
    * Pass 1 computes within-shard prefix sums under
    * `Window.partitionBy(shard).orderBy(orderCol)` (shuffle ∝ data, window
    * state ∝ shard). Pass 2 aggregates ONE constant-width row per shard
    * (the shard's token total — driver-bounded metadata, like a codebook),
    * prefix-sums those totals on the driver into exclusive shard base
    * offsets, and broadcast-joins them back:
    * `cum = shard_offset + within_shard_cum`. Output is bit-identical to
    * the global form — pinned by spec and certified cross-engine by the
    * `sequence_packing_sharded` battery row, whose oracle is the GLOBAL
    * window formula.
    *
    * `shardCol` must be an integral key that is monotone non-decreasing in
    * `orderCol` (shards are contiguous ranges of the order key — e.g.
    * `floor(doc_id / docsPerShard)`, a date bucket, a file/split id); rows
    * in the same shard may land in any partition. Shard count is the
    * driver-side bound: thousands of shards of millions of documents each
    * cover any corpus while the offset table stays trivially
    * broadcastable.
    */
  def sequencePackingSharded(
      docs: DataFrame, tokenCol: String, orderCol: String,
      capacity: Long, shardCol: Column): DataFrame = {
    require(capacity > 0, s"pack capacity must be positive, got $capacity")
    val tagged = docs.withColumn("__shard", shardCol.cast("long"))
    val w = Window.partitionBy("__shard").orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // one row per shard: (shard, token total) — bounded metadata collect
    val totals = tagged.groupBy("__shard")
      .agg(coalesce(sum(col(tokenCol)), lit(0L)).as("__tot"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    var acc = 0L
    val offsets = totals.map { case (sh, tot) =>
      val o = (sh, acc); acc += tot; o
    }.toSeq
    val spark = docs.sparkSession
    import spark.implicits._
    val offDf = offsets.toDF("__shard", "__off")
    tagged
      .withColumn("__cum_local", sum(col(tokenCol)).over(w))
      .join(broadcast(offDf), Seq("__shard"))
      .withColumn("cum_tokens", col("__cum_local") + col("__off"))
      .withColumn("pack_id",
        ((col("cum_tokens") - col(tokenCol)) / capacity).cast("long"))
      .drop("__shard", "__cum_local", "__off")
  }

  /** Text normalization: lowercase, strip non-alphanumerics, collapse
    * whitespace — the canonicalization step before exact dedup.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** The [[htmlStrip]] rewrite chain, applied in order. One shared table
    * drives BOTH the Spark column form and the generated oracle SQL
    * ([[htmlStripSql]]) so the two engines evaluate the identical
    * expression tree. Patterns stay inside the Java-regex ∩ RE2 common
    * subset: inline `(?is)` flags, non-greedy `.*?`, non-capturing
    * groups — no backreferences, no lookaround, no replacement
    * metacharacters. Order matters twice: script/style bodies must go
    * before the generic tag strip (their CONTENT is markup, not text),
    * and `&amp;` decodes LAST so `&amp;lt;` yields the literal `&lt;`
    * rather than double-decoding to `<`.
    *
    * Whitespace is an EXPLICIT class, never `\s`: Java's `\s` matches
    * vertical tab (\x0B) but RE2's does not — on a VT-carrying document
    * the two engines would collapse differently. The explicit class
    * includes VT on both sides.
    */
  private[graft] val HtmlStripSteps: Seq[(String, String)] = {
    val ws = "[ \\t\\n\\x0B\\f\\r]" // Java \s; RE2 \s lacks \x0B
    Seq(
      // script/style elements: drop the whole element, content included
      s"(?is)<(?:script|style)\\b[^>]*>.*?</(?:script|style)$ws*>" -> " ",
      "(?s)<!--.*?-->" -> " ", // comments
      "(?s)<[^>]*>" -> " ", // any remaining tag
      // the common named/numeric entities of web text; extend as needed
      "(?i)&nbsp;" -> " ",
      "(?i)&lt;" -> "<",
      "(?i)&gt;" -> ">",
      "(?i)&quot;" -> "\"",
      "&#39;" -> "'",
      "(?i)&apos;" -> "'",
      "(?i)&amp;" -> "&",
      s"$ws+" -> " ") // collapse whitespace runs
  }

  /** HTML/markup stripping — the web-corpus canonicalization step that
    * runs BEFORE [[normalizeText]]/dedup/quality filtering: drops
    * script/style elements with their bodies, comments and tags, decodes
    * the common character entities, and collapses whitespace. A per-row
    * regexp chain (codegen'd, no UDF, shuffle-free); NOT a conformant
    * HTML5 parser — malformed markup degrades to leaving fragments in
    * place, never to dropping text content.
    */
  def htmlStrip(text: Column): Column =
    trim(HtmlStripSteps.foldLeft(text) {
      case (acc, (pat, repl)) => regexp_replace(acc, pat, repl)
    })

  /** ANSI/DuckDB rendering of [[htmlStrip]] over a SQL expression — the
    * oracle-side twin generated from the same [[HtmlStripSteps]] table
    * (global flag as the option argument; the patterns carry their own
    * inline flags, which RE2 honors like Java regex does).
    */
  def htmlStripSql(e: String): String = {
    def q(s: String) = s.replace("'", "''")
    "trim(" + HtmlStripSteps.foldLeft(e) {
      case (acc, (pat, repl)) =>
        s"regexp_replace($acc, '${q(pat)}', '${q(repl)}', 'g')"
    } + ")"
  }

  /** TF-IDF: top-k terms per document by term-frequency × inverse document
    * frequency (idf = ln(N / df)), the standard relevance weighting for
    * corpus search/quality pipelines. One explode + two aggregations; the
    * doc-frequency side is a broadcastable term table.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    val n = docs.count()
    // persisted: the exploded term table feeds BOTH the tf and df branches
    // — one corpus scan + explode, not two
    val terms = materialized(docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term")))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df_ = terms.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(df_, "term")
      .withColumn("tfidf",
        round(col("tf") * log(lit(n.toDouble) / col("df")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("doc_id", "term", "tf", "df", "tfidf", "rnk")
  }

  /** BM25 relevance ranking of the corpus against a (small) query-term
    * set — the standard lexical retrieval scorer, and the batch shape of a
    * training-data relevance filter ("keep documents that look like this
    * query/domain"). Per document:
    *
    *   score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *   idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))        (Robertson/Lucene)
    *
    * Scale shape: ONE corpus scan computes token arrays; the explode is
    * filtered to the query-term set BEFORE any shuffle, so the aggregated
    * term table carries only matching (doc, term) rows — cost tracks hit
    * count, not corpus token count; df is a per-term count over that same
    * table (broadcastable — at most |query| rows). avgdl is an exact
    * integer-sum average (one lightweight agg). Per-term contributions are
    * rounded to 6 dp and summed as DECIMAL(18,6), so the final score is
    * an order-independent exact decimal — reproducible across engines and
    * partitionings (a raw double Σ would depend on Spark's merge order).
    * Output: topK docs by (score desc, doc_id) with their rank.
    */
  def bm25TopDocs(docs: DataFrame, queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "bm25: empty query")
    val n = docs.count()
    val withDl = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val avgdl = withDl.agg(sum(col("dl")).cast("double") / count(lit(1)))
      .head.getDouble(0)
    val hits = withDl
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
    // persisted: the (small, hits-only) tf table feeds BOTH the scoring
    // join and the df side — one corpus scan + explode, not two
    val tf = materialized(hits.groupBy(col("doc_id"), col("dl"),
        col("term"))
      .agg(count(lit(1)).cast("double").as("tf")))
    bm25RankHits(tf, n, avgdl, k1, b, topK)
  }

  /** The BM25 scoring/ranking stage over a prepared hit table
    * (`doc_id, dl, term, tf` — query-term rows only), shared by the
    * per-query corpus scan ([[bm25TopDocs]]) and the persistent postings
    * index ([[Bm25Index]]): same idf/saturation formula, same
    * micro-unit-integer determinism, same tie-breaks — so index-served
    * rankings are provably identical to corpus-scan rankings.
    *
    * Per-term contributions quantize to 6-dp micro-unit LONGS via
    * `floor(raw·1e6 + 0.5)` — pure IEEE double ops, identical in any
    * engine/version — and the per-doc sum is exact integer addition
    * (order-free); `round(x, 6)` + a DOUBLE→DECIMAL cast here was the
    * exact hazard class the round-7 driver hash flagged on
    * `lm_bigram_score`. The final score is the single long→double
    * divide (bit-identical cross-engine).
    */
  private[text] def bm25RankHits(tf: DataFrame, n: Long, avgdl: Double,
      k1: Double, b: Double, topK: Int): DataFrame = {
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    val idf = log(lit(1.0) +
      (lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5))
    val norm = col("tf") +
      lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl)
    val contrib = idf * (col("tf") * (k1 + 1.0)) / norm
    // Top-k FIRST via orderBy+limit — TakeOrderedAndProject (per-partition
    // partial top-k, driver k-way merge), so a common query term's
    // corpus-sized scored-doc set never funnels through one partition —
    // THEN the rank-assigning window runs over the ≤topK-row frame only.
    // (score desc, doc_id) is a total order, so the k-cut and the ranks
    // within it are deterministic: the output is provably identical to
    // ranking the full scored set and filtering rnk <= topK.
    // Constant-key single-group window over the ≤topK frame the limit
    // below bounds — see [[boundedSingleGroup]].
    val w = Window.partitionBy(boundedSingleGroup(col("doc_id")))
      .orderBy(col("score").desc, col("doc_id"))
    tf.join(broadcast(dfreq), "term")
      .withColumn("cm", floor(contrib * lit(1.0e6) + lit(0.5)))
      .groupBy(col("doc_id"), col("dl"))
      .agg((sum(col("cm")).cast("double") / lit(1.0e6)).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
      .withColumn("rnk", row_number().over(w))
      .select(col("doc_id"), col("dl"), col("score"), col("rnk"))
  }

  /** Bigram language-model fluency scoring — the classical statistical
    * quality filter (the shape CCNet/Gopher-style pipelines use with a
    * trained LM): train add-one-smoothed bigram counts over the corpus
    * itself, then score every document by its average per-bigram negative
    * log-likelihood. Gibberish and boilerplate (improbable token
    * transitions) score high; fluent text scores low — threshold on
    * `avg_nll` to filter. A model trained on an external reference corpus
    * drops into the same plan by swapping the counts input.
    *
    * p(w2|w1) = (C(w1,w2) + 1) / (C(w1·) + V), where C(w1·) sums bigram
    * counts with prefix w1 and V is the corpus unigram vocabulary.
    *
    * Plan shape: ONE token explode produces the bigram stream (persisted —
    * it feeds both the count build and the scoring join); counts shuffle by
    * bigram (vocabulary²-bounded, far smaller than the corpus at scale);
    * scoring is two joins back onto the stream keyed by bigram/prefix and
    * one per-doc fold. Per-bigram NLLs round to 6 dp and accumulate as
    * DECIMAL (order-independent), so scores are exact cross-engine.
    * Single-token and empty docs have no bigrams and drop out.
    */
  def bigramLmScore(docs: DataFrame): DataFrame = {
    // ScanPar measured and REJECTED here (r13): the dominant cost is the
    // post-shuffle bigram joins, not the scan-stage zip — redistribution
    // measured 0.84 s -> 1.21 s at sf0.1/32 cores
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("t"))
    val bg = materialized(toks.select(col("doc_id"),
        explode(arrays_zip(
          slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0))),
          slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0)))))
          .as("p"))
      .select(col("doc_id"), col("p.0").as("w1"), col("p.1").as("w2")))
    val c2 = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("n2")).as("n1"))
    val v = toks.select(explode(col("t")).as("tok"))
      .agg(countDistinct(col("tok"))).head.getLong(0)
    // per-bigram nll quantized to 6-dp MICRO-UNIT LONGS via
    // floor(raw·1e6 + 0.5): pure IEEE double ops, so any oracle
    // engine/version computes the same integer — `round(x, 6)` +
    // DOUBLE→DECIMAL casts here were the round-7 driver-hash flag. The
    // per-doc micro sum is exact integer addition (order-free), and the
    // output doubles are single long→double divides (bit-identical
    // cross-engine). Total ORDER BY doc_id: the row order is part of the
    // certified output (parallelism-independent).
    val nllMicro = floor(
      -log((col("n2") + lit(1.0)) / (col("n1") + lit(v))) * lit(1.0e6)
        + lit(0.5))
    bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .select(col("doc_id"), nllMicro.as("nllm"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nllm")).as("__tm"))
      .withColumn("nll_total", col("__tm").cast("double") / lit(1.0e6))
      // 6-dp half-up average via EXACT integer division on micro-units
      .withColumn("avg_nll",
        expr("(__tm * 2 + n_bigrams) div (2 * n_bigrams)") / lit(1.0e6))
      .select("doc_id", "n_bigrams", "nll_total", "avg_nll")
      .orderBy(col("doc_id"))
  }

  /** Duplicate clusters: connected components over near-dup pairs via
    * iterative min-label propagation. Each round every vertex adopts the
    * smallest label among itself and its neighbors; convergence takes
    * O(component diameter) rounds — near-dup components are short chains,
    * so this terminates in a few shuffles even at corpus scale (the
    * large-star/small-star variant would cut rounds further if components
    * were deep). Output: one row per doc appearing in any pair, its
    * cluster id (the component's min doc_id) and whether it is the
    * canonical survivor.
    */
  /** Edge-count threshold below which [[dedupClusters]] solves the
    * components with a driver-side union-find instead of iterative Spark
    * rounds. The edge set scales with the DUPLICATE count, not the corpus —
    * even a billion-doc corpus at a 1% dup rate stays near this bound — so
    * the distributed loop is the fallback, not the common case.
    */
  val DriverUnionFindMaxEdges: Long = 5000000L

  def dedupClusters(
      pairs: DataFrame,
      maxDriverEdges: Long = DriverUnionFindMaxEdges): DataFrame = {
    val spark = pairs.sparkSession
    // Emit both edge directions from ONE pass over `pairs` (a union of two
    // selects would re-evaluate the whole upstream near-dup pipeline twice).
    val edges0 = pairs.select(explode(array(
        struct(col("doc_a").as("u"), col("doc_b").as("v")),
        struct(col("doc_b").as("u"), col("doc_a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct().persist()
    val edgeCount = edges0.count()
    if (edgeCount <= maxDriverEdges) {
      // small-edge fast path: exact union-find on the driver, same
      // min-label components as the distributed fixpoint
      val es = edges0.select("u", "v").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      edges0.unpersist()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x
        else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (u, v) =>
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      val verts = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
      import spark.implicits._
      return verts.toSeq.sorted
        .map(v => (v, find(v), v == find(v)))
        .toDF("doc_id", "cluster_id", "is_canonical")
    }
    // distributed min-label propagation for edge sets beyond driver memory
    val parts = math.max(1, (edgeCount / 500000L).toInt)
    val edges = edges0.repartition(parts).persist()
    edges0.unpersist()
    try {
      var labels = edges.select(col("u").as("id")).distinct()
        .withColumn("label", col("id")).persist()
      var converged = false
      while (!converged) {
        val prop = edges.join(labels, edges("v") === labels("id"))
          .select(edges("u").as("id"), col("label"))
        val next = labels.select("id", "label").union(prop)
          .groupBy("id").agg(min("label").as("label")).persist()
        converged = next.as("n")
          .join(labels.as("o"), col("n.id") === col("o.id"))
          .filter(col("n.label") =!= col("o.label")).isEmpty
        labels.unpersist()
        labels = next
      }
      val out = labels
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
        .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      out.cache().count() // materialize before unpersisting inputs
      labels.unpersist()
      out
    } finally edges.unpersist()
  }

  /** PII scrubbing patterns, applied in order (emails before IPs before
    * phones — the later, looser patterns must not eat the earlier ones).
    * Portable regex subset: identical semantics under Java regex (Spark)
    * and RE2 (DuckDB oracle) — no backrefs, no lookaround.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b" -> "<IP>",
    "\\+?\\d[\\d\\- ()]{7,}\\d" -> "<PHONE>")

  /** Redact emails / IPv4s / phone-shaped digit runs from `text` — the
    * PII-scrubbing pass of a training-data pipeline. Pure per-row
    * `regexp_replace` chain: codegen'd, shuffle-free.
    */
  def scrubPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  /** Gopher-style repetition quality signals: the fraction of all tokens
    * taken by the single most frequent token, and likewise for word
    * bigrams (high values flag boilerplate/spam for filtering).
    *
    * Shape: explode + two-level aggregation per n-gram size — shuffles by
    * (doc_id, gram) then doc_id, both map-side combinable; no per-row
    * quadratic work, so row length doesn't matter at corpus scale.
    */
  /** Longest run length in a SORTED array — i.e. the count of the most
    * frequent element. One interpreted fold per element; no shuffle.
    */
  private def topRunCount(sorted: Column): Column =
    aggregate(sorted,
      struct(lit(0L).as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(acc.getField("run") > 0 && acc.getField("prev") === x,
          acc.getField("run") + 1).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  def repetitionStats(docs: DataFrame): DataFrame = {
    // Every gram of a document lives in the document's own row, so these
    // are PER-ROW statistics — no explode, no shuffle, embarrassingly
    // parallel at corpus scale (an explode+groupBy formulation shuffles
    // the entire gram stream just to put back together what was never
    // apart; measured 5x slower at sf0.1). Grams are compared by 64-bit
    // hash: two DISTINCT grams of ONE document colliding (~n²/2^65) is
    // negligible at any document length.
    def hashes(grams: Column): Column =
      array_sort(transform(grams, g => xxhash64(g)))
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        hashes(col("toks")).as("uh"),
        hashes(shingles(col("toks"), 2)).as("bh"))
      .select(col("doc_id"),
        topRunCount(col("uh")).as("top_token_n"),
        size(col("uh")).as("un"),
        topRunCount(col("bh")).as("top_bigram_n"),
        size(col("bh")).as("bn"))
      .select(col("doc_id"),
        col("top_token_n"),
        round(col("top_token_n") / col("un"), 6).as("top_token_frac"),
        // docs shorter than the gram (no bigrams) report nulls, matching
        // the SQL left join against an empty bigram group
        when(col("bn") > 0, col("top_bigram_n")).as("top_bigram_n"),
        when(col("bn") > 0, round(col("top_bigram_n") / col("bn"), 6))
          .as("top_bigram_frac"))
  }

  /** Chunk-level exact dedup accounting: split every document into
    * consecutive `chunkTokens`-token windows, dedup the chunks GLOBALLY
    * (first occurrence in (doc_id, idx) order wins), and report per
    * document how many of its chunks survive. The granularity between
    * document-level dedup (misses big repeated spans inside distinct
    * docs — boilerplate, licenses, navigation) and line-level dedup
    * (too noisy on short lines); a training pipeline drops or rewrites
    * documents whose kept-fraction falls below a threshold.
    *
    * Plan shape: per-row chunking (no shuffle), one shuffle by 8-byte
    * chunk hash for the first-occurrence window, one shuffle back by
    * doc_id for the per-doc rollup — both on compact keys, never on text.
    */
  def chunkDedup(docs: DataFrame, chunkTokens: Int): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    val toksDf = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val nChunks =
      ((size(col("toks")) + (chunkTokens - 1)) / chunkTokens).cast("long")
    val chunked = toksDf.select(col("doc_id"),
      transform(sequence(lit(0L), nChunks - 1),
        i => concat_ws(" ",
          slice(col("toks"), (i * chunkTokens + 1).cast("int"),
            lit(chunkTokens))))
        .as("chunks"))
    val e = chunked
      .select(col("doc_id"), posexplode(col("chunks")).as(Seq("idx", "chunk")))
      .select(col("doc_id"), col("idx").cast("long").as("idx"),
        Hashing.hash60(col("chunk")).as("h"))
    val firstSeen = Window.partitionBy("h").orderBy(col("doc_id"), col("idx"))
    e.withColumn("rn", row_number().over(firstSeen))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
  }

  /** Exact duplicate-SPAN removal — the distributed shape of suffix-style
    * substring dedup ("Deduplicating Training Data Makes Language Models
    * Better", Lee et al. 2022): instead of a corpus-wide suffix array
    * (inherently sequential), every `span`-token window is hashed and
    * counted globally; any window occurrence that is NOT the global first
    * occurrence of its hash (first = min (doc_id, position)) marks its
    * `span` token positions as duplicated. Per document, the flagged
    * positions are merged into maximal spans (gaps-and-islands) and the
    * cleaned text — original tokens minus flagged positions — is emitted,
    * so exactly one copy of every long repeated passage survives in the
    * corpus, at its first occurrence.
    *
    * Output: doc_id, n_tokens, n_dup_tokens, n_dup_spans, clean_text.
    * Docs shorter than `span` have no windows and pass through unchanged.
    *
    * Plan shape (all linear in corpus token count): per-row windowing (no
    * shuffle), one shuffle by 8-byte window hash for the first-occurrence
    * rank, a bounded ≤span× position explode of ONLY the duplicated
    * occurrences, one shuffle by doc_id that serves both the span merge
    * (window) and the rollup (groupBy reuses the window's partitioning),
    * and one join back to the token arrays keyed by doc_id. No stage ever
    * shuffles document text — only compact (doc_id, pos, hash) triples.
    * The token-filter rebuild is O(tokens × flagged) per doc via
    * array_contains; flagged counts are span-bounded per duplicated
    * window, and truly pathological docs (everything duplicated) cost
    * O(n·n/span) only on their own row.
    */
  def dupSpanRemoval(docs: DataFrame, span: Int): DataFrame = {
    require(span > 0, "span must be positive")
    // ScanPar (r13): per-window slice + md5 hashing run in the scan stage
    val toksDf = graft.util.ScanPar(docs, col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    // 0-based window starts; guarded so short docs yield no windows
    // (unguarded sequence(0, negative) would DESCEND in Spark).
    val starts = when(size(col("toks")) >= span,
      sequence(lit(0L), (size(col("toks")) - span).cast("long")))
      .otherwise(array().cast("array<long>"))
    val e = toksDf
      .select(col("doc_id"), explode(starts).as("p"), col("toks"))
      .select(col("doc_id"), col("p"),
        Hashing.hash60(concat_ws(" ",
          slice(col("toks"), (col("p") + 1).cast("int"), lit(span))))
          .as("h"))
    val firstSeen = Window.partitionBy("h").orderBy(col("doc_id"), col("p"))
    val flagged = e
      .withColumn("rn", row_number().over(firstSeen))
      .filter(col("rn") > 1)
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (span - 1))).as("pos"))
      .distinct()
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val perDoc = flagged
      .withColumn("grp", col("pos") - row_number().over(byDoc))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_tokens"),
        countDistinct(col("grp")).as("n_dup_spans"),
        sort_array(collect_list(col("pos"))).as("flagged"))
    toksDf
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        when(col("flagged").isNull, concat_ws(" ", col("toks")))
          .otherwise(concat_ws(" ",
            filter(col("toks"), (_, i) =>
              !array_contains(col("flagged"), i.cast("long")))))
          .as("clean_text"))
  }

  /** Token-id encoding — the "tokenizer encode" step that turns curated
    * text into training-ready integer sequences: a corpus-frequency vocab
    * of `vocabSize` entries (rank = count desc, token asc — deterministic),
    * every document re-emitted as its id array with out-of-vocabulary
    * tokens mapped to 0 and counted.
    *
    * Plan shape: one token-count aggregate + an orderBy+limit(vocabSize)
    * top-k — planned as TakeOrderedAndProject (per-partition partial
    * top-k, k-way driver merge; the [[vocabulary]] pattern), so ALL
    * distinct corpus tokens never funnel through one partition — then the
    * id-assigning row_number window runs over the ≤vocabSize-row frame
    * only. (n desc, tok asc) is a total order, so the top-k cut and the
    * ids within it are deterministic across engines and partitionings.
    * Documents then explode WITH positions, probe the broadcast vocab,
    * and regroup by doc_id — order restored by sorting the collected
    * (pos, id) structs, not by any shuffle-order assumption. Shuffled
    * rows are (doc_id, pos, id) triples.
    */
  def encodeTokenIds(docs: DataFrame, vocabSize: Int): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    // ScanPar (r13): tokenize + posexplode run in the scan stage
    val toks = graft.util.ScanPar(docs, col("doc_id"))
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    // Constant-key single-group window over the ≤vocabSize frame the
    // limit above already bounded — see [[boundedSingleGroup]].
    val rank = Window.partitionBy(boundedSingleGroup(col("n")))
      .orderBy(col("n").desc, col("tok").asc)
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(vocabSize)
      .withColumn("id", row_number().over(rank).cast("long"))
      .select("tok", "id")
    toks
      .join(broadcast(vocab), Seq("tok"), "left")
      .select(col("doc_id"), col("pos"), coalesce(col("id"), lit(0L)).as("id"))
      .groupBy("doc_id")
      .agg(
        // sequence emitted as a comma-joined STRING, not array<long>:
        // arrow list types carry a writer-specific child field name
        // ("element" for parquet-mr vs "l" for DuckDB) that the driver's
        // type compare distinguishes, so list-typed battery outputs can
        // never hash-match — scalar representation sidesteps it
        concat_ws(",",
          transform(array_sort(collect_list(struct(col("pos"), col("id")))),
            e => e.getField("id").cast("string"))).as("token_ids"),
        sum(when(col("id") === 0L, 1L).otherwise(0L)).as("n_oov"))
  }

  /** Frozen coefficients of the linear quality classifier — arbitrary but
    * FROZEN constants (like [[graft.functions.Hashing.MinhashA]]): the
    * oracle embeds the same numbers. Real deployments drop in weights
    * fitted offline (a fastText-style quality model distilled to a linear
    * scorer); the engine contract is the deterministic integer scoring
    * harness, not these demo values.
    */
  val QualityWeights: (Long, Long, Long, Long) = (-2000L, 3000L, 5000L, 4L)

  /** Model-scored quality filtering with fixed-point integer arithmetic:
    * `score = bias + wUniq*(uniq/n) + wStop*(stop/n) + wLen*min(n,200)`
    * where the ratio terms are integer-scaled (`(w*num) div n` — all
    * operands positive, so trunc and floor division agree cross-engine)
    * and `keep = score >= threshold`. Per-row only — no shuffle, no
    * floats, bit-identical on any engine/partitioning — which is what
    * lets a corpus-selection decision be audited and replayed exactly.
    */
  def qualityClassify(docs: DataFrame, threshold: Long = 0L): DataFrame = {
    val (bias, wUniq, wStop, wLen) = QualityWeights
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n"),
        size(array_distinct(col("toks"))).cast("long").as("nu"),
        stopwordCount(col("toks"), Stopwords).cast("long").as("ns"))
      .select(col("doc_id"),
        (lit(bias) + expr(s"($wUniq * nu) div n") +
          expr(s"($wStop * ns) div n") +
          lit(wLen) * least(col("n"), lit(200L))).as("q_score"))
      .withColumn("keep", col("q_score") >= threshold)
  }

  /** SimHash hamming near-dup pairs via pigeonhole banding (the Manku-
    * Jain-Sarma WWW'07 construction): split each 16-bit fingerprint into
    * 4 bands of 4 bits — any two fingerprints within hamming distance 3
    * MUST agree on at least one whole band (pigeonhole), so banding finds
    * every such pair while comparing only same-band-value candidates,
    * never all pairs. Candidates are verified with an exact
    * `bit_count(xor)` and deduped (a close pair can collide in several
    * bands).
    *
    * Plan shape: one 4× band explode of (doc_id, fingerprint, band key)
    * rows, one self-join shuffled by (band, key), per-bucket pairing.
    * Bucket population — hence cost — is corpus/2^bits per band; the
    * 16-bit fingerprint (4-bit bands, 16 buckets) is the oracle-portable
    * DEMO size. At corpus scale use 64-bit fingerprints with 16-bit
    * bands (65k buckets per band, same `maxHamming<=3` pigeonhole) —
    * the construction is identical, only the constants grow.
    */
  def simhashNearDupPairs(docs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 0): DataFrame =
    simhashBandedPairs(simhash16(docs), "simhash16", bandBits = 4,
      maxHamming, maxBucket)

  /** [[simhashNearDupPairs]] at the PRODUCTION fingerprint size: 60-bit
    * fingerprints ([[simhash60]]) in 4 bands of 15 bits — 32k buckets
    * per band instead of 16, the same `hamming <= 3` pigeonhole. The
    * 16-bit variant stays as the oracle-portable demo; this is the
    * construction the corpus-scale caveat on it promises.
    */
  def simhashNearDupPairs60(docs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 0): DataFrame =
    simhashBandedPairs(simhash60(docs), "simhash60", bandBits = 15,
      maxHamming, maxBucket)

  private def simhashBandedPairs(sh: DataFrame, fpCol: String,
      bandBits: Int, maxHamming: Int, maxBucket: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4-band pigeonhole guarantees recall only for hamming <= 3")
    val mask = (1L << bandBits) - 1
    val banded = sh.select(col("doc_id"), col(fpCol),
      posexplode(array((0 until 4).map(b =>
        shiftright(col(fpCol), b * bandBits).bitwiseAND(mask)
          .cast("long")): _*))
        .as(Seq("band", "bkey")))
    // Hot-bucket guard (same contract as minhashCandidatePairs): identical
    // boilerplate means identical fingerprints, which pile one bucket per
    // band and make the self-join quadratic in that population. Capped
    // buckets keep only their min doc id on the LEFT side — each member
    // pairs once with the hub (hamming 0 for true dups, so verification
    // keeps the edge and the component stays connected).
    val left =
      if (maxBucket <= 0) banded
      else {
        val stats = banded.groupBy("band", "bkey")
          .agg(min(col("doc_id")).as("__hub"), count(lit(1)).as("__bsz"))
        banded.join(stats, Seq("band", "bkey"))
          .filter(col("__bsz") <= maxBucket || col("doc_id") === col("__hub"))
          .select("doc_id", fpCol, "band", "bkey")
      }
    val a = left.alias("a")
    val b = banded.alias("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.bkey") === col("b.bkey") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col(s"a.$fpCol").as("ha"), col(s"b.$fpCol").as("hb"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Distributed BPE (byte-pair-encoding) merge training — the
    * tokenizer-learning step of a training-data pipeline, in the
    * Sennrich word-frequency formulation. The corpus is scanned ONCE
    * into a (word, freq) vocabulary; every round after that runs over
    * the VOCABULARY (bounded by distinct words, not corpus bytes):
    * count adjacent symbol pairs weighted by word frequency (one
    * vocab-sized shuffle), pick the most frequent pair (deterministic
    * tie-break freq DESC, left ASC, right ASC — a 1-row collect), apply
    * it to every word, repeat. At 100 TB the corpus scan dominates and
    * happens once; the k merge rounds cost k small aggregations.
    *
    * Words are held as space-joined symbol strings (' c h a r s </w> ')
    * and a merge applies as LITERAL non-overlapping left-to-right
    * replacement of " l r " — Spark's `replace` and DuckDB's `replace`
    * share these semantics exactly, which is what makes training
    * reproducible bit-for-bit in the oracle. CAVEAT vs re-scanning
    * BPE: occurrences sharing a boundary space under-merge — self-runs
    * ("a a a a" folds to [aa, a, a]-shapes) AND alternations ("x y x y"
    * folds only the first " x y ") resolve by non-overlapping
    * left-to-right scan, not by re-scan — a deterministic, documented
    * variant, not a bug. No UDFs anywhere.
    *
    * Returns the learned merge table (merge_rank, lhs, rhs, freq).
    */
  def bpeTrain(docs: DataFrame, textCol: String, merges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs.select(explode(split(col(textCol), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    var vocab = words.groupBy("w").agg(count(lit(1)).as("freq"))
      .select(concat(lit(" "),
        concat_ws(" ", transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1)))),
        lit(" </w> ")).as("repr"), col("freq")).persist()
    vocab.count()
    val out = scala.collection.mutable.Buffer.empty[(Int, String, String, Long)]
    try {
      for (rank <- 1 to merges) {
        val toks = split(trim(col("repr")), " ")
        val pairs = vocab
          .select(explode(arrays_zip(
            slice(toks, lit(1), size(toks) - 1).as("l"),
            slice(toks, lit(2), size(toks) - 1).as("r"))).as("z"),
            col("freq"))
          .select(col("z.l").as("l"), col("z.r").as("r"), col("freq"))
          .groupBy("l", "r").agg(sum("freq").as("freq"))
        val best = pairs
          .orderBy(col("freq").desc, col("l").asc, col("r").asc)
          .limit(1).collect()
        if (best.isEmpty) return out.toSeq
          .toDF("merge_rank", "lhs", "rhs", "freq")
        val (l, r) = (best(0).getString(0), best(0).getString(1))
        out += ((rank, l, r, best(0).getLong(2)))
        // call_function keeps the learned symbols out of any SQL text
        // (they come from corpus data). Eager localCheckpoint, not
        // persist: persist caches the DATA but leaves the logical plan
        // k-deep after k rounds, so every later round re-analyzes (and
        // re-canonicalizes for cache lookup) the whole chain — measured
        // super-linear round cost and a driver OOM near 64 rounds. The
        // checkpoint cuts the plan to a leaf each round; blocks of
        // dropped rounds are reclaimed by the context cleaner.
        val next = vocab.select(
          call_function("replace", col("repr"),
            lit(s" $l $r "), lit(s" $l$r ")).as("repr"),
          col("freq")).localCheckpoint()
        vocab.unpersist()
        vocab = next
      }
    } finally { vocab.unpersist(); () }
    out.toSeq.toDF("merge_rank", "lhs", "rhs", "freq")
  }

  /** Batched BPE training — the PRODUCTION-VOCABULARY scale path for
    * [[bpeTrain]], whose one-merge-per-round driver loop is exact but
    * rounds-proportional (a 30k-merge vocabulary pays ~60k sequenced
    * Spark jobs). Per round this variant computes the same global pair
    * counts ONCE, collects a bounded top slice, keeps up to `batch`
    * candidates that are pairwise SYMBOL-DISJOINT (greedy in global
    * (freq desc, lhs, rhs) rank order — disjointness makes their counts
    * mutually independent, so applying them in rank order inside one
    * vocabulary rewrite is well-defined and order-insensitive), and
    * folds them all in a single materialization: jobs drop from
    * `2·merges` to `~2·merges/batch`.
    *
    * Exactness contract: `batch = 1` IS [[bpeTrain]] (spec-pinned
    * equal). For `batch > 1` the result is the standard large-corpus
    * approximation of greedy BPE: a merge applied earlier in a batch
    * can create a NEW pair (one of its symbols fused) whose count would
    * have outranked a later batch member under strict one-at-a-time
    * greedy — those new pairs are only visible to the NEXT round's
    * count. Symbol-disjointness guarantees every selected pair's own
    * count is exact at application time; what is approximated is only
    * the global greedy ORDER. When no batch member's fusion creates a
    * pair outranking a later member, the batched table equals the
    * sequential one exactly (spec constructs both regimes).
    */
  def bpeTrainBatched(docs: DataFrame, textCol: String, merges: Int,
      batch: Int): DataFrame = {
    require(batch >= 1, s"batch must be >= 1, got $batch")
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs.select(explode(split(col(textCol), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    var vocab = words.groupBy("w").agg(count(lit(1)).as("freq"))
      .select(concat(lit(" "),
        concat_ws(" ", transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1)))),
        lit(" </w> ")).as("repr"), col("freq")).persist()
    vocab.count()
    val out = scala.collection.mutable.Buffer.empty[(Int, String, String, Long)]
    try {
      while (out.size < merges) {
        val want = math.min(batch, merges - out.size)
        val toks = split(trim(col("repr")), " ")
        val pairs = vocab
          .select(explode(arrays_zip(
            slice(toks, lit(1), size(toks) - 1).as("l"),
            slice(toks, lit(2), size(toks) - 1).as("r"))).as("z"),
            col("freq"))
          .select(col("z.l").as("l"), col("z.r").as("r"), col("freq"))
          .groupBy("l", "r").agg(sum("freq").as("freq"))
        // bounded top slice: enough rank-ordered candidates to survive
        // the disjointness filter (each kept pair blocks at most its two
        // symbols; 4x + headroom covers adversarial overlap runs)
        val top = pairs
          .orderBy(col("freq").desc, col("l").asc, col("r").asc)
          .limit(want * 4 + 16).collect()
        if (top.isEmpty) return out.toSeq
          .toDF("merge_rank", "lhs", "rhs", "freq")
        // a candidate is admitted iff its lhs, rhs AND fused token are
        // all unseen among previously kept pairs' lhs/rhs/fused tokens.
        // Symbols alone are NOT enough: a candidate whose symbol equals
        // an earlier pair's FUSION (e.g. (ab,x) after (a,b)) would be
        // applied to occurrences the earlier replace just created —
        // occurrences excluded from its counted freq — and a candidate
        // whose FUSION equals an earlier pair's symbol makes the fold
        // order-sensitive in the other direction. Blocking all three
        // strings restores the order-insensitive / counts-exact batch
        // contract the scaladoc states.
        val used = scala.collection.mutable.Set.empty[String]
        val kept = scala.collection.mutable
          .Buffer.empty[(String, String, Long)]
        val it = top.iterator
        while (kept.size < want && it.hasNext) {
          val row = it.next()
          val (l, r) = (row.getString(0), row.getString(1))
          if (!used(l) && !used(r) && !used(l + r)) {
            kept += ((l, r, row.getLong(2)))
            used += l; used += r; used += (l + r)
          }
        }
        kept.foreach { case (l, r, f) =>
          out += ((out.size + 1, l, r, f))
        }
        // eager localCheckpoint per round, same rationale as [[bpeTrain]]
        val next = vocab.select(
          kept.foldLeft(col("repr")) { case (acc, (l, r, _)) =>
            call_function("replace", acc, lit(s" $l $r "), lit(s" $l$r "))
          }.as("repr"),
          col("freq")).localCheckpoint()
        vocab.unpersist()
        vocab = next
      }
    } finally { vocab.unpersist(); () }
    out.toSeq.toDF("merge_rank", "lhs", "rhs", "freq")
  }

  /** Apply a learned BPE merge table ([[bpeTrain]]) to encode documents:
    * the whole document becomes ONE space-joined symbol string
    * (word chars separated by spaces, words separated by the `</w>`
    * boundary symbol), each merge applies in rank order as the same
    * literal replacement used in training, and the result splits into
    * the token stream. One narrow projection per document — no joins,
    * no shuffles, fully parallel over the corpus; the merge table rides
    * the closure (it is k rows).
    *
    * Returns (doc_id, n_tokens, encoded) where `encoded` is the
    * space-joined token string (exact, oracle-comparable).
    */
  def bpeEncode(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val words = filter(split(col(textCol), "\\s+"),
      w => length(w) > lit(0))
    val repr0 = concat(lit(" "),
      concat_ws(" </w> ", transform(words, w =>
        concat_ws(" ", transform(sequence(lit(1), length(w)),
          i => w.substr(i, lit(1)))))),
      lit(" </w> "))
    val encodedRepr = merges.foldLeft(repr0) { case (acc, (l, r)) =>
      call_function("replace", acc, lit(s" $l $r "), lit(s" $l$r "))
    }
    // ScanPar (r13): the char-split + per-merge replace chain is the
    // encoder's whole cost and runs in the scan stage
    graft.util.ScanPar(docs, col("doc_id"))
      .select(col("doc_id"), trim(encodedRepr).as("enc"))
      .select(col("doc_id"),
        size(split(col("enc"), " ")).cast("long").as("n_tokens"),
        col("enc").as("encoded"))
  }

  /** SimHash (16-bit, portable hash): per bit j, sign of the sum over tokens
    * (with multiplicity) of +-1 according to bit j of the token hash.
    */
  def simhash16(docs: DataFrame): DataFrame =
    simhashFp(docs, 16).withColumnRenamed("fp", "simhash16")

  /** 60-bit simhash over the FULL width of the 60-bit token hash — the
    * production fingerprint size (the 16-bit variant is the
    * oracle-portable demo). Same per-bit majority construction.
    */
  def simhash60(docs: DataFrame): DataFrame =
    simhashFp(docs, 60).withColumnRenamed("fp", "simhash60")

  private def simhashFp(docs: DataFrame, bits: Int): DataFrame = {
    // ScanPar (r13): tokenize + per-token md5 hashing + the 60-column
    // partial bit-sum aggregation all run in the scan stage; a local
    // single-row-group input serializes them. No-op at production scan
    // sizes (the gate requires the input to be un-splittable).
    val e = graft.util.ScanPar(docs, col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), Hashing.hash60(col("tok")).as("h"))
    val bitSums = (0 until bits).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(1) * 2 - 1).as(s"s$j"))
    e.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(j =>
          when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("fp"))
  }
}
