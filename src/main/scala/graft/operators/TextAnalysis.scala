package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * Everything here is a narrow per-row transform built from codegen'd
  * built-in functions (no UDFs, no shuffles): at 100 TB these run
  * map-side inside whole-stage codegen and scale linearly with input
  * splits. The reference engine (satyakalla890/columnar-format) has no
  * text operators at all — this extends its scan/project surface with
  * the analysis layer a data-curation pipeline needs.
  */
object TextAnalysis {

  /** Whitespace tokens. Single-space split (not `\s+`) so the semantics are
    * exactly reproducible by engines whose `string_split` is non-regex
    * (DuckDB, Trino) — empty fields from runs of spaces are kept.
    */
  def tokens(text: Column): Column = split(text, " ")

  /** FastText-style hashed-linear text scorer — the MODEL-BASED quality
    * filter stage of modern pretraining pipelines (DataComp, FineWeb),
    * distinct from the heuristic [[qualityScore]]: each token hashes into
    * one of `dim` weight buckets (the hashing trick — no vocabulary, no
    * OOV), a document's score is the mean bucket weight of its tokens,
    * and `keep` thresholds it. Weights here are md5-derived stand-ins
    * for trained parameters with the same shape and cost — production
    * swaps `wNum` for a lookup into a broadcast trained vector and the
    * plan is otherwise unchanged.
    *
    * 100-TB shape: map-only — one pass over the tokens per row, no
    * shuffle — so scoring runs at scan bandwidth and composes with
    * [[dropBoilerplateLines]]/[[redactPii]] in one pass. The per-token
    * double-md5 runs as a plain JVM kernel (UDF), NOT as Spark
    * higher-order-function expressions: HOF lambda bodies are
    * CodegenFallback (interpreted), the cost the MinHash kernel in
    * [[graft.operators.Dedup.minhashSignatures]] measured at ~10× —
    * and measured HERE at 50k docs (10×-sf0.1, local[8], warm): HOF
    * expression tree 6.8 s vs 0.5 s tokenize baseline vs 0.8 s this
    * kernel (8.7×) — the md5 stage was 92% of the operator. The kernel
    * also memoizes bucket→weight across rows (pure function of the
    * bucket), which the expression tree cannot. Semantics are
    * BIT-IDENTICAL to the
    * md5-expression formulation (the oracle recomputes it in DuckDB):
    * weights are INTEGER numerators (uniform over ±2³¹) summed
    * associatively as longs, so any engine with md5 reproduces every
    * score bit-for-bit — the only floating-point steps are two final
    * divisions on identical operands.
    *
    * Output: (doc_id, n_tokens, score, keep). Null text scores null;
    * an empty document scores 0.0 and is dropped at any threshold ≥ 0.
    */
  // Executor-side state for the hashed-linear kernel, held in
  // ThreadLocals on the (static, never-serialized) companion so the UDF
  // closure stays serializable: one MessageDigest per thread (digest()
  // self-resets), and one bucket→weight memo per (dim, seed) — weights
  // are pure functions of the bucket, so memoizing across rows and
  // tasks in a thread saves the second md5 for every repeated bucket
  // (at dim 2¹⁶ the memo converges after a few thousand documents).
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val weightMemoLocal =
    new ThreadLocal[java.util.HashMap[(Int, Long),
        java.util.HashMap[java.lang.Long, java.lang.Long]]] {
      override def initialValue() = new java.util.HashMap()
    }

  def hashedLinearScore(df: DataFrame, id: Column, text: Column,
      dim: Int = 1 << 16, seed: Long = 7L, threshold: Double = 0.0): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    // first 4 md5 bytes as an unsigned 32-bit value — exactly
    // conv(substring(md5(x), 1, 8), 16, 10)
    def md5Head(md: java.security.MessageDigest, s: String): Long = {
      val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
    }
    val kernel = udf { text: String =>
      if (text == null) null
      else {
        val md = md5Local.get()
        val memo = weightMemoLocal.get()
          .computeIfAbsent((dim, seed), _ => new java.util.HashMap())
        val toks = text.split(" ", -1)
        var num = 0L
        var n = 0
        var i = 0
        while (i < toks.length) {
          val t = toks(i)
          if (t.nonEmpty) {
            n += 1
            val b = md5Head(md, "b" + t) % dim
            val cached = memo.get(b)
            val w: Long =
              if (cached != null) cached.longValue()
              else {
                val v = md5Head(md, s"w$seed-" + b) - 2147483648L
                memo.put(b, v)
                v
              }
            num += w
          }
          i += 1
        }
        (n, num)
      }
    }
    val r = kernel(text)
    val n = r.getField("_1")
    val score = (r.getField("_2").cast("double") / lit(4294967296.0)) /
      greatest(n, lit(1)).cast("double")
    df.select(id.as("doc_id"), n.as("n_tokens"), score.as("score"),
      (score > threshold).as("keep"))
  }

  /** TF-IDF-style salient terms: per document, the k tokens with the
    * highest `tf · n_docs / df` (a log-free idf — integer-ratio doubles
    * are bit-reproducible across engines, unlike `ln` whose libm bits
    * differ; the RANKING it induces matches classic tf-idf whenever tf
    * ties break the same way).
    *
    * Shape: explode → (doc, token) counts with map-side partial
    * aggregation; document frequency from a second aggregation of that
    * (already tiny) table; corpus size joined in as a broadcast scalar —
    * no `collect`, no driver loop. The final per-doc top-k window
    * partitions by document, where cardinality = the document's distinct
    * tokens (bounded by document length), so Spark's WindowGroupLimit
    * keeps the shuffle at k rows per doc per partition — a safe window
    * use, unlike a per-query corpus-wide rank.
    */
  def tfIdfTopTerms(df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(id.as("doc_id"), explode(tokens(text)).as("token"))
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(docFreq, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("token"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        col("score"), col("rank").cast("int").as("rank"))
  }

  /** Unigram LM surprisal scoring — the perplexity-filter stage of
    * pretraining pipelines (CCNet-style): score each document by the
    * mean per-token information content under a unigram model fit on
    * the corpus itself. Template-heavy common-token documents score
    * low; rare-token-dense documents (gibberish, OCR noise, off-corpus
    * content) score high, so a threshold on the score is the standard
    * cheap quality filter before heavier model-based scoring.
    *
    * Two score columns, by portability class:
    *
    *  - `bits_q` — QUANTIZED mean surprisal: per token,
    *    floorlog2(N) − floorlog2(c) computed as `length(bin(x)) − 1`
    *    on exact integers (c = corpus count of the token, N = corpus
    *    token total). No floating log anywhere, so any engine
    *    reproduces it bit-for-bit — this is the oracle-checked column.
    *    Resolution is whole bits; monotone in the true surprisal at
    *    power-of-two boundaries.
    *  - `xent_bits` — the REAL-VALUED unigram cross-entropy,
    *    mean(log2 N − log2 c). `log2` is not correctly rounded in
    *    IEEE, so its last ulp differs across engines and the column is
    *    spec-pinned (fixture + partitioning invariance), not oracled.
    *    Per-token terms snap to a 1e-12 grid and sum as exact decimals
    *    (the [[graft.operators.Graph]] grid-sum idiom), so WITHIN the
    *    engine the value is partitioning-invariant.
    *
    * Scale shape: explode → one vocabulary-keyed count (map-side
    * combine), a one-row broadcast total, a token-keyed join of
    * occurrences to the |vocab| surprisal table (AQE broadcasts it
    * when small), one doc-keyed aggregate. Bounded by |vocab| and the
    * token stream — the same shape as [[tfIdfTopTerms]], no all-pairs,
    * no driver state. Null texts are excluded (no tokens, no score).
    */
  def lmScore(df: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = df.where(text.isNotNull)
      .select(id.as("doc_id"), explode(tokens(text)).as("token"))
    val counts = toks.groupBy("token").agg(count(lit(1)).as("c"))
    val total = counts.agg(sum("c").as("n_total"))
    val surp = counts.crossJoin(broadcast(total))
      .select(col("token"),
        ((length(bin(col("n_total"))) - 1) - (length(bin(col("c"))) - 1))
          .cast("long").as("qbits"),
        round((log2(col("n_total")) - log2(col("c"))) * lit(1.0e12))
          .cast("long").as("nb"))
    // Exact grid-integer sum of per-token surprisals ([[GridSum.exactSum]];
    // a document's total can pass a long at the 1e-12 grid): ANSI-loud
    // only past 2⁹⁴ per document.
    toks.join(surp, "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("qbits").as("sq"),
        GridSum.exactSum(col("nb"), 0).as("snb"))
      .select(col("doc_id"), col("n_tokens"),
        (col("sq").cast("double") / col("n_tokens")).as("bits_q"),
        ((col("snb").cast("double") / lit(1.0e12)) / col("n_tokens")).as("xent_bits"))
  }

  /** Bigram-conditional LM surprisal — the next step up from [[lmScore]]'s
    * unigram model and a materially sharper quality signal: a document of
    * common words in IMPROBABLE ORDER (shuffled text, boilerplate soup)
    * scores low under a unigram model but high here, because each token
    * is scored against its predecessor: surprisal(w | prev) built from
    * c(prev, w) and c_head(prev) = Σ_w c(prev, w); the first token falls
    * back to the unigram model. Same portability split as [[lmScore]]:
    * this variant ships ONLY the quantized column (floorlog2 via
    * `length(bin(x)) − 1` on exact counts — no floating log, so the
    * oracle replays it bit-for-bit); the real-valued refinement is the
    * identical one-line change lmScore documents.
    *
    * Scale shape: bigram generation is MAP-ONLY (an index-zip inside the
    * row — no positional self-join), then one |bigram-vocab| count, one
    * head marginal from that same table (no second pass over tokens),
    * and bigram-keyed joins back — the tf-idf family shape, bounded by
    * the token stream and bigram vocabulary. Output: (doc_id, n_tokens,
    * bits_q_bigram) where n_tokens counts scored positions (= token
    * count: 1 first + n−1 bigrams).
    */
  def lmScoreBigram(df: DataFrame, id: Column, text: Column): DataFrame = {
    val base = df.where(text.isNotNull)
      .select(id.as("doc_id"), tokens(text).as("ts"))
    // sequence(2, 1) would be DESCENDING in Spark, not empty — guard the
    // single-token doc explicitly
    val bg = base.select(col("doc_id"), explode(expr(
        "transform(CASE WHEN size(ts) >= 2 THEN sequence(2, size(ts)) ELSE array() END, " +
          "i -> struct(element_at(ts, i - 1) AS prev, element_at(ts, i) AS w))")).as("p"))
      .select(col("doc_id"), col("p.prev").as("prev"), col("p.w").as("w"))
    val cbg = bg.groupBy("prev", "w").agg(count(lit(1)).as("cbg"))
    val chead = cbg.groupBy("prev").agg(sum("cbg").as("chead"))
    val toks = base.select(col("doc_id"), explode(col("ts")).as("token"))
    val cuni = toks.groupBy("token").agg(count(lit(1)).as("c"))
    val total = cuni.agg(sum("c").as("n_total"))
    def fl(c: Column): Column = length(bin(c)) - 1
    val uniQ = cuni.crossJoin(broadcast(total))
      .select(col("token"), (fl(col("n_total")) - fl(col("c"))).cast("long").as("q"))
    val bgQ = cbg.join(chead, "prev")
      .select(col("prev"), col("w"), (fl(col("chead")) - fl(col("cbg"))).cast("long").as("q"))
    val firstScored = base.select(col("doc_id"), element_at(col("ts"), 1).as("token"))
      .join(uniQ, "token").select(col("doc_id"), col("q"))
    val bgScored = bg.join(bgQ, Seq("prev", "w")).select(col("doc_id"), col("q"))
    firstScored.unionByName(bgScored)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("q").as("sq"))
      .select(col("doc_id"), col("n_tokens"),
        (col("sq").cast("double") / col("n_tokens")).as("bits_q_bigram"))
  }

  /** GPT-2-style pre-tokenizer pattern, restricted to constructs BOTH
    * regex engines the pipeline spans implement identically: Java
    * (Spark's regexp machinery) and RE2 (DuckDB, Go tooling). The real
    * GPT-2 pattern's `\s+(?!\S)` lookahead does not exist in RE2, and
    * `\p{L}`/`\p{N}` unicode classes differ at the edges, so this uses
    * explicit ASCII classes and no lookaround: contraction suffixes,
    * space-prefixed letter runs, space-prefixed digit runs,
    * space-prefixed punctuation runs, space runs. Alternation is
    * leftmost-first in both engines.
    */
  val BpeTokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ']+| +"

  /** Token counting under a BPE-ish pre-tokenizer — the cost model for
    * context-window packing and per-token pricing, where whitespace
    * counts undercount (punctuation, contractions, and digit runs
    * tokenize separately). Reports both counts side by side plus
    * chars-per-token, the standard compression diagnostic (English web
    * text sits near 4–5 chars/token under byte-BPE vocabularies; far
    * lower values flag punctuation soup, far higher flag unsegmented
    * text). Map-only — one regex pass per row, no shuffle; the pattern
    * ([[BpeTokenPattern]]) is engine-portable by construction, so the
    * oracle checks exact counts.
    *
    * Output: (doc_id, n_chars, n_ws_tokens, n_bpe_tokens,
    * chars_per_token). Null text is excluded.
    */
  def bpeTokenCount(df: DataFrame, id: Column, text: Column): DataFrame =
    df.where(text.isNotNull)
      .select(id.as("doc_id"),
        length(text).as("n_chars"),
        size(tokens(text)).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(text, lit(BpeTokenPattern), lit(0)))
          .cast("long").as("n_bpe_tokens"))
      .withColumn("chars_per_token",
        col("n_chars").cast("double") / greatest(col("n_bpe_tokens"), lit(1L)))

  /** DSIR-style data selection via importance resampling (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * score every raw-corpus document by how much more likely its hashed
    * n-gram features are under a TARGET corpus (the high-quality or
    * in-domain set you want more of) than under the raw corpus itself,
    * then keep the top-scoring documents. This is the principled
    * replacement for hand-written quality heuristics when a trusted
    * target sample exists — the standard curation step between dedup and
    * tokenization in modern pretraining pipelines.
    *
    * Features are hashed unigrams (the hashing trick — no vocabulary, no
    * OOV): bucket(t) = md5-head("dsir-" ‖ t) mod `buckets`. Both corpus
    * distributions are fit as bucket counts with +1 Laplace smoothing, so
    * buckets absent from the target still score (small), never NULL/−∞.
    *
    * The per-token log-ratio is QUANTIZED to whole bits the [[lmScore]]
    * way — q(b) = floorlog2(c_target(b)+1) − floorlog2(c_raw(b)+1) via
    * `length(bin(x)) − 1` on exact integers, no floating log — so any
    * engine reproduces every weight bit-for-bit and the oracle checks
    * values, not approximations. The per-corpus normalizers (N_target,
    * N_raw) shift every token's weight by the same constant and therefore
    * never change the RANKING the selection step consumes; omitting them
    * keeps the whole computation in exact integers. `w_q` is the summed
    * quantized log-ratio; `score` = w_q / n_tokens (one final double
    * division on identical operands — correctly rounded everywhere).
    *
    * Scale shape: two explode→bucket-count aggregates (map-side combine;
    * state = `buckets` rows each), a broadcast of the ≤`buckets`-row
    * weight table onto the raw token stream, one doc-keyed aggregate.
    * Bounded by the token stream and `buckets` — no all-pairs, no driver
    * state, the [[tfIdfTopTerms]] family shape. Null raw text is
    * excluded (no features, no score).
    *
    * Output: (doc_id, n_tokens, w_q, score).
    */
  def importanceWeights(raw: DataFrame, target: DataFrame, id: Column,
      text: Column, buckets: Int = 4096): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    def bucket(t: Column): Column =
      conv(substring(md5(concat(lit("dsir-"), t).cast("binary")), 1, 8), 16, 10)
        .cast("long") % buckets
    def bucketCounts(df: DataFrame, name: String): DataFrame =
      df.where(text.isNotNull)
        .select(explode(tokens(text)).as("t"))
        .groupBy(bucket(col("t")).as("b")).agg(count(lit(1)).as(name))
    val fl: Column => Column = c => length(bin(c)) - 1
    val weights = bucketCounts(raw, "c_raw")
      .join(bucketCounts(target, "c_target"), Seq("b"), "left")
      .select(col("b"),
        (fl(coalesce(col("c_target"), lit(0L)) + 1L) - fl(col("c_raw") + 1L))
          .cast("long").as("q"))
    raw.where(text.isNotNull)
      .select(id.as("doc_id"), explode(tokens(text)).as("t"))
      .join(broadcast(weights), bucket(col("t")) === col("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("q").as("w_q"))
      .select(col("doc_id"), col("n_tokens"), col("w_q"),
        (col("w_q").cast("double") / col("n_tokens")).as("score"))
  }

  /** The selection step over [[importanceWeights]]: the `k` raw documents
    * whose hashed features look most target-like, ranked by (score desc,
    * doc_id) — a deterministic total order, so membership is exactly
    * reproducible. DSIR as published samples with Gumbel noise ∝ the
    * weights; top-k is the deterministic variant production pipelines
    * favor (same estimator, zero RNG state to ship). The global sort is
    * over one row per DOCUMENT SCORE, not per token — at 100 TB that is
    * the cheap side by orders of magnitude, and Spark's sort-limit
    * pushes the limit into each partition before the single-stage merge.
    */
  def importanceSelect(raw: DataFrame, target: DataFrame, id: Column,
      text: Column, k: Int, buckets: Int = 4096): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val scored = importanceWeights(raw, target, id, text, buckets)
      .orderBy(col("score").desc, col("doc_id")).limit(k)
    // rank numbers only the k survivors (single tiny partition), not the
    // corpus — the WindowExec warning-free shape
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
  }

  /** Exact corpus heavy hitters — every token whose true count exceeds
    * n/(capacity+1) — via the classic two-pass sketch-then-count plan:
    *
    * Pass 1: a [[graft.functions.MisraGries]] summary plus the exact
    * token total in ONE partially-aggregated pass; the summary's
    * candidate set provably contains every qualifying token (the
    * n/(k+1) bound holds under any merge order), and it is ≤ capacity
    * entries — a bounded, broadcastable list, NEVER a full-vocabulary
    * shuffle. Pass 2: exact counts for candidate occurrences only
    * (broadcast semi-filter), keep those above the threshold.
    *
    * The output is EXACT and deterministic even though the sketch
    * contents are merge-order-dependent: false candidates die at the
    * final threshold, and true heavy hitters can't be missed. At 100 TB
    * a full `groupBy(token)` shuffles the whole vocabulary to find the
    * handful of frequent terms; this shuffles ≤ capacity candidates'
    * occurrences. The ≤capacity collect to the driver is bounded by the
    * caller's parameter, not the data.
    */
  def heavyHitters(df: DataFrame, text: Column, capacity: Int): DataFrame = {
    import org.apache.spark.sql.Encoders
    val toks = df.where(text.isNotNull).select(explode(tokens(text)).as("term"))
    val mg = udaf(new graft.functions.MisraGries(capacity), Encoders.STRING)
    val pass1 = toks.agg(mg(col("term")).as("mg"), count(lit(1)).as("n"))
      .select(col("n"), col("mg.items.term").as("cands"))
      .collect()(0)
    val n = pass1.getLong(0)
    val cands = pass1.getSeq[String](1)
    if (cands.isEmpty) return toks.select(col("term"), lit(0L).as("cnt")).limit(0)
    // Broadcast SEMI-JOIN on the candidate set, not isin(cands): an IN
    // list inlines every candidate into the plan as a literal — fine at
    // capacity 50, quadratic plan-compile bloat at 10⁴ — while a
    // broadcast hash semi keeps the plan O(1) and the probe codegen'd
    // whatever the capacity.
    val spark = df.sparkSession
    import spark.implicits._
    val candDf = spark.createDataset(cands.toSeq).toDF("term")
    toks.join(broadcast(candDf), Seq("term"), "left_semi")
      .groupBy("term")
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > lit(n) / lit(capacity + 1.0))
  }

  /** Inverted-index (postings) build with document-frequency-band
    * vocabulary pruning: one row per surviving (term, doc) with the term
    * frequency and the term's document frequency. `minDf` cuts hapax/
    * noise terms, `maxDf` cuts the stopword tier — the standard
    * vocabulary trim before a search or retrieval index ships.
    *
    * Shape (same scale skeleton as [[tfIdfTopTerms]]): explode →
    * partial-aggregated (term, doc) counts; document frequencies from a
    * second aggregation of that already-collapsed table; one equi-join
    * back on the term. No windows, no driver collect; every stage is
    * key-partitioned and AQE-splittable on hot terms.
    */
  def invertedIndex(df: DataFrame, id: Column, text: Column,
      minDf: Long = 2, maxDf: Long = Long.MaxValue): DataFrame = {
    val tf = df.where(text.isNotNull)
      .select(id.as("doc_id"), explode(tokens(text)).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf && col("df") <= maxDf)
    tf.join(dfreq, "term").select("term", "df", "doc_id", "tf")
  }

  /** Repetition signals per document (the Gopher/MassiveText-style
    * filters): duplicate-token ratio (1 − distinct/total) and
    * top-token dominance (most frequent token's share). A
    * machine-generated or boilerplate page repeats itself; thresholds on
    * these two columns are the standard cheap cut before any model-based
    * scoring. Shape: explode → two partial-aggregated groupBys (map-side
    * combine both times); the ratios divide exact longs, so independent
    * engines reproduce the doubles bit-for-bit. Docs with null text drop
    * out (no tokens, nothing to score).
    */
  def repetitionStats(df: DataFrame, id: Column, text: Column): DataFrame = {
    val perTok = df.select(id.as("doc_id"), explode(tokens(text)).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
    perTok.groupBy("doc_id").agg(
      sum("c").as("n_tokens"),
      count(lit(1)).as("n_distinct"),
      max("c").as("top_c"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_tokens").cast("double"))
          .as("dup_ratio"),
        (col("top_c").cast("double") / col("n_tokens").cast("double")).as("top_ratio"))
  }

  def tokenCount(text: Column): Column = size(tokens(text))

  def distinctTokenCount(text: Column): Column = size(array_distinct(tokens(text)))

  /** BPE-ish lexer regex: maximal alphanumeric runs, else single
    * non-space symbols. Counting these approximates subword-tokenizer
    * token counts well enough for corpus budgeting.
    */
  val TokenRegex = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"

  def regexTokenCount(text: Column): Column = regexp_count(text, lit(TokenRegex))

  def punctCount(text: Column): Column = regexp_count(text, lit("[^A-Za-z0-9\\s]"))

  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "and", "in", "is", "it", "that")

  def stopwordCount(text: Column): Column =
    size(filter(tokens(text), t => t.isin(Stopwords: _*)))

  /** Quality-score components, each a deterministic double in [0,1].
    * The composite is a fixed linear blend — not a model, a filterable
    * heuristic (docs with score < threshold get dropped upstream of
    * training). All arithmetic is order-fixed so independent engines
    * reproduce it bit-for-bit.
    */
  def stopwordRatio(text: Column): Column =
    stopwordCount(text).cast("double") / greatest(tokenCount(text), lit(1)).cast("double")

  def punctRatio(text: Column): Column =
    punctCount(text).cast("double") / greatest(length(text), lit(1)).cast("double")

  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / lit(50.0), lit(1.0))
    lenScore * lit(0.5) + stopwordRatio(text) * lit(0.3) + (lit(1.0) - punctRatio(text)) * lit(0.2)
  }

  /** Language-ID marker words. Deliberately tiny: this is the classic
    * stopword-profile heuristic (n-gram/marker profiling à la textcat),
    * good enough to route documents; not a classifier.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "to", "in", "that", "it", "was", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "los", "por"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr" -> Seq("le", "les", "et", "des", "est", "une", "dans", "du", "pour", "au"),
  )

  /** Predicted language: 'zh' if any CJK codepoint, else the FIRST language
    * (in [[LangMarkers]] order) whose marker-hit count equals the maximum —
    * a strict-greater fold, so ties resolve to the earlier language. The
    * same rule is expressible in ANSI SQL (CASE on score = greatest(...)),
    * which is what the harness oracle does.
    */
  def langId(text: Column): Column = {
    val toks = split(lower(text), " ")
    def score(words: Seq[String]): Column = size(filter(toks, t => t.isin(words: _*)))
    val first = struct(score(LangMarkers.head._2).as("s"), lit(LangMarkers.head._1).as("l"))
    val best = LangMarkers.tail.foldLeft(first) { case (acc, (lang, words)) =>
      val cand = struct(score(words).as("s"), lit(lang).as("l"))
      when(cand.getField("s") > acc.getField("s"), cand).otherwise(acc)
    }
    when(regexp_count(text, lit("[\\x{4e00}-\\x{9fff}]")) > 0, lit("zh"))
      .otherwise(best.getField("l"))
  }

  /** 64-bit whole-document fingerprint (content-addressing / exact dedup key). */
  def fingerprint(text: Column): Column = xxhash64(text)

  /** CCNet-style dedup normalization: lowercase, punctuation → space,
    * whitespace runs collapsed, ends trimmed — so trivially-different
    * copies (casing, punctuation, reflowed whitespace) share one exact
    * dedup key. Deliberately NOT a linguistic normalization (no stemming,
    * no unicode folding): the point is a cheap, deterministic,
    * engine-portable canonical form, all codegen'd built-ins — the
    * normalized key feeds [[graft.operators.Dedup]] exactly like raw
    * text. Reference: CCNet (Wenzek et al. 2020) §3.1 deduplication
    * normalization; same shape as the reference's whitespace-null rule
    * (writer.py:130-131) taken to the dedup use case.
    */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^\\p{L}\\p{N}\\s]", " "), "\\s+", " "))

  /** Word n-gram shingles, distinct. Short docs (< n tokens) produce their
    * single full-text shingle so every doc has a non-empty set.
    */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(array_distinct(
        transform(sequence(lit(0), size(toks) - n), i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))))
  }

  /** Rolling-hash fingerprint: the minimum 64-bit hash over the document's
    * word shingles (a 1-hash MinHash). Robust to local edits in a way the
    * whole-document hash is not.
    */
  def shingleFingerprint(text: Column, n: Int = 3): Column =
    array_min(transform(wordShingles(text, n), s => xxhash64(s)))

  /** Split documents into overlapping fixed-token-budget chunks — the
    * standard pre-training/RAG prep step ("pack ≤N tokens per training
    * example, overlap O so no boundary context is lost"). Chunk i covers
    * tokens [i·stride, i·stride + maxTokens) with stride =
    * maxTokens − overlap; the last chunk may be short, and a doc with
    * ≤ maxTokens tokens yields exactly one chunk.
    *
    * Map-only: tokenize, derive the chunk count arithmetically, explode a
    * 0..nChunks-1 sequence, slice — no shuffle, no UDF, all inside
    * whole-stage codegen, so at 100 TB it scales with input splits like
    * any projection. Null-text docs produce no chunks (explode of a null
    * sequence), mirroring the tokenizer ops above.
    */
  def chunkTokens(df: DataFrame, id: Column, text: Column,
      maxTokens: Int, overlap: Int): DataFrame =
    chunkTokenArrays(df.select(id.as("doc_id"), tokens(text).as("toks")),
      maxTokens, overlap, sep = " ")

  /** [[chunkTokens]] on REAL BPE merged tokens ([[Bpe]]): the chunk budget
    * counts what a byte-pair tokenizer would emit, and `chunk_text`
    * reassembles by plain concatenation — BPE tokens carry their own
    * leading spaces, so the chunk text is exactly the original slice.
    */
  def chunkBpeTokens(df: DataFrame, id: Column, text: Column,
      merges: Seq[(String, String)], maxTokens: Int, overlap: Int): DataFrame =
    chunkTokenArrays(Bpe.encodeTokens(df, id, text, merges), maxTokens, overlap, sep = "")

  /** Core chunker over a prepared (doc_id, toks ARRAY<STRING>) table —
    * the arithmetic/slice step shared by the whitespace and BPE fronts.
    */
  def chunkTokenArrays(prepared: DataFrame, maxTokens: Int, overlap: Int,
      sep: String): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens), got $overlap")
    val stride = maxTokens - overlap
    val n = size(col("toks"))
    val nChunks = when(n <= maxTokens, lit(1))
      .otherwise(ceil((n - maxTokens).cast("double") / stride).cast("int") + 1)
    val piece = prepared
      .select(col("doc_id"), col("toks").as("__toks"), n.as("n_tokens"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_id"))
    val part = slice(col("__toks"), col("chunk_id") * stride + 1, lit(maxTokens))
    piece.select(col("doc_id"), col("chunk_id"), col("n_tokens"),
      array_join(part, sep).as("chunk_text"),
      size(part).as("chunk_tokens"))
  }

  /** CCNet-style line-level boilerplate removal: drop every line that
    * appears (verbatim) in ≥ `minDocFreq` DISTINCT documents — cookie
    * banners, nav bars, license footers — and reassemble each document
    * from its surviving lines in original order.
    *
    * Scale shape: lines explode once; the frequency aggregation is
    * map-side-combined on (line, doc) then (line); the dictionary of
    * boilerplate lines (freq ≥ threshold) is TINY relative to the corpus
    * — it broadcasts, and the removal join is a broadcast LEFT ANTI, so
    * corpus lines never shuffle again. Reassembly is one groupBy(doc)
    * with sort_array on (pos, line) structs — per-doc state bounded by
    * document length. Docs whose every line was boilerplate survive with
    * empty text (the caller decides to drop or keep them); null-text
    * docs pass through as null.
    */
  def dropBoilerplateLines(df: DataFrame, id: Column, text: Column,
      minDocFreq: Int): DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq must be >= 2, got $minDocFreq")
    val lines = df.where(text.isNotNull)
      .select(id.as("id"), posexplode(split(text, "\n")).as(Seq("pos", "line")))
    val boiler = lines.select(col("line"), col("id")).distinct()
      .groupBy("line").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDocFreq)
      .select("line")
    val kept = lines.join(broadcast(boiler), Seq("line"), "left_anti")
    val rebuilt = kept
      .groupBy("id")
      .agg(array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")), "\n").as("clean_text"),
        count(lit(1)).as("n_kept"))
    df.select(id.as("id"), text.as("__text"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        when(col("__text").isNotNull, coalesce(col("clean_text"), lit(""))).as("clean_text"),
        when(col("__text").isNotNull, coalesce(col("n_kept"), lit(0L))).as("n_kept"),
        when(col("__text").isNotNull,
          size(split(col("__text"), "\n")) - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  // ------------------------------------------------------------------ PII
  //
  // Redaction patterns chosen to parse identically under Java regex
  // (Spark codegen'd regexp_replace) and RE2 (DuckDB, Go tooling): no
  // backreferences, no lookaround, only greedy quantifiers over character
  // classes — constructs on which leftmost-first (Java) and
  // leftmost-longest (RE2) agree.

  /** RFC-casual email addresses. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Dotted-quad IPv4 (word-bounded so version strings like 1.2.3.4.5
    * still match only a 4-group prefix window, never silently skip).
    */
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** E.164-style international phone numbers: + then 7-15 digits. The
    * deliberately-narrow form — loose "anything with 7 digits and dashes"
    * patterns false-positive on IDs and version numbers at corpus scale.
    */
  val PhonePattern = "\\+\\d{7,15}"

  def emailCount(text: Column): Column = regexp_count(text, lit(EmailPattern))
  def ipv4Count(text: Column): Column = regexp_count(text, lit(Ipv4Pattern))
  def phoneCount(text: Column): Column = regexp_count(text, lit(PhonePattern))

  /** Scrub emails, IPv4s and international phone numbers, in that fixed
    * order (emails first — a plus-tagged address like a+1234567@x.com
    * must become one `<EMAIL>`, not a `a<PHONE>@x.com` splice). Map-only
    * codegen'd regexp_replace chain; count the matches separately (on the
    * original text) when an audit trail is needed.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, lit(EmailPattern), lit("<EMAIL>")),
        lit(Ipv4Pattern), lit("<IP>")),
      lit(PhonePattern), lit("<PHONE>"))

  /** (doc_id, para_idx, phash) per non-empty paragraph (blank-line
    * separated, trimmed) of each document — the TEXT front end for
    * [[Multimodal.clipContainment]]: a document quoted verbatim inside
    * another is a paragraph-hash RUN inside its sequence, the
    * granularity span-dedup's fixed n-gram shingles miss (a quote
    * shorter than the shingle width, or one whose boundaries straddle
    * shingles, never forms a containment edge there). Hashes are
    * xxhash64 over the trimmed paragraph — exact-match semantics (text
    * containment is exact, unlike the perceptual audio/video fronts),
    * codegen'd, map-only. `para_idx` numbers the KEPT paragraphs
    * consecutively, so runs stay contiguous across dropped blanks.
    */
  def paragraphHashes(df: DataFrame, id: Column, text: Column): DataFrame = {
    val paras = filter(transform(split(text, "\\n\\n"), p => trim(p)), p => p =!= "")
    df.where(text.isNotNull)
      .select(id.cast("long").as("doc_id"), posexplode(paras).as(Seq("para_idx", "para")))
      .select(col("doc_id"), col("para_idx"), xxhash64(col("para")).as("phash"))
  }
}
