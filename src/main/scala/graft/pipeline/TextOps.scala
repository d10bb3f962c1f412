package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale corpus pipelines: token
  * ops, shingling, deterministic hashing, fingerprinting, language
  * scoring, quality features.
  *
  * Everything here is a pure Column expression (whole-stage codegen,
  * no UDFs, no shuffles) so it runs at scan speed over 100 TB — and
  * every function is reproducible in ANSI SQL for the DuckDB oracle
  * (md5-based hashing rather than engine-private hash functions).
  */
object TextOps {

  /** Conditional parallelism spread for per-document CPU-heavy passes
    * (r16 optimization; guide §2.5 "input skew: one huge unsplittable
    * file ... repartition immediately after the read"): a scan-stage
    * pass (shingle md5s, span building, feature extraction) inherits
    * the INPUT's parallelism, and a single-row-group parquet file
    * caps that at one task regardless of cores — measured 2 s serial
    * stages behind a sub-MB documents scan while 31 cores idled.
    * When the frame's planned parallelism already reaches the
    * session's core count — every production layout — this is a
    * NO-OP: no exchange is added at scale. Below it, one hash
    * repartition on the id column (deterministic row placement, so no
    * sort-before-repartition pass and retry-safe under §2.5's
    * SPARK-38388 caveat) buys a full-width stage for the price of a
    * tiny local shuffle.
    */
  def spread(df: org.apache.spark.sql.DataFrame, key: Column): org.apache.spark.sql.DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // Exchange-rooted frames are left alone (r16 fix): under AQE,
    // `.rdd` materializes every upstream query stage — asking a
    // derived frame for its width EXECUTES its shuffles and then
    // throws the work away when the real query re-plans (measured on
    // q_pipeline_pretrain: the exact-dedup window exchange ran twice,
    // 5.2 s vs 4.6 s baseline). Post-shuffle width is already governed
    // by AQE's parallelismFirst coalescing, which is exactly the knob
    // this helper exists to bypass for SCAN-rooted frames, where the
    // planned width is the file-split count: known without running
    // anything, and the single-row-group test layout caps it at 1-2
    // tasks regardless of the CPU the fused pass carries.
    val hasExchange = df.queryExecution.sparkPlan.exists {
      case _: org.apache.spark.sql.execution.exchange.Exchange => true
      case _ => false
    }
    if (hasExchange) df
    else if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target, key)
  }

  /** Whitespace tokens of a single-space-normalized text. */
  def tokens(text: Column): Column = split(text, " ")

  /** Deterministic 32-bit hash of a string, seeded: first 8 hex chars
    * of md5("<seed>|<s>") as a long. Cross-engine reproducible
    * (DuckDB: CAST('0x'||substr(md5(...),1,8) AS BIGINT)).
    */
  def hash32(seed: Int, s: Column): Column =
    conv(substring(md5(concat(lit(seed.toString), lit("|"), s)), 1, 8), 16, 10).cast("long")

  /** Distinct word n-gram shingles. For texts shorter than n tokens,
    * one shingle = the whole text.
    */
  def shingles(text: Column, n: Int): Column = {
    val ts = tokens(text)
    array_distinct(
      transform(sequence(lit(1), greatest(size(ts) - (n - 1), lit(1))),
        i => concat_ws(" ", slice(ts, i, lit(n)))))
  }

  /** Deterministic hash-sampling predicate: keep a row iff
    * hash(key) mod 1000 < permille. The training-data curation
    * staple — reproducible across runs and engines (unlike
    * TABLESAMPLE), stable under repartitioning, and stratification is
    * free: the hash is uniform within any group, so each stratum is
    * sampled at the same rate.
    */
  def hashSample(key: Column, permille: Int): Column =
    hash32(0, key) % 1000 < permille

  /** Bag-of-words document fingerprint: md5 over the sorted distinct
    * token set — exact-dup detection modulo word order/multiplicity.
    */
  def fingerprint(text: Column): Column =
    md5(array_join(sort_array(array_distinct(tokens(text))), " "))

  /** Number of tokens from a lexicon occurring in the text (with
    * multiplicity) — the language-ID / stopword-ratio primitive.
    */
  def lexiconHits(text: Column, lexicon: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(lexicon: _*)))

  /** Per-language stopword lexicons for the n-gram-free language-ID
    * heuristic. Tiny by design: langid at corpus scale is a
    * scan-speed scoring pass, not a model.
    */
  val lexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "los", "y", "es", "un"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un"),
    "zh" -> Seq("de", "shi", "le", "zai", "he", "you"))

  /** Predicted language: argmax of lexicon hits, ties broken by
    * lexicon order (first wins). Returns "und" when no lexicon hits.
    */
  def langId(text: Column): Column = {
    val scored = lexicons.map { case (lang, lex) => (lang, lexiconHits(text, lex)) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scored.reverse.foldLeft(lit("und")) { case (acc, (lang, sc)) =>
      when(sc === best && best > 0, lit(lang)).otherwise(acc)
    }
    pick
  }

  /** TF-IDF over a tokenized corpus: returns (idCol, token, tf, df,
    * tfidf) with `tfidf = tf * ln((N + 1) / (df + 1))` rounded to 6
    * decimals (the +1 smoothing keeps corpus-wide tokens at a small
    * positive weight instead of exactly 0). Two aggregations — term
    * frequency per (doc, token) and document frequency per token —
    * then a broadcast-friendly join on token. Exact integer counts
    * and a final rounded double keep it cross-engine reproducible.
    */
  def tfidf(docs: org.apache.spark.sql.DataFrame, idCol: String, text: Column,
      corpusSize: Long): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol), explode(tokens(text)).as("token"))
    val tf = toks.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(df, Seq("token"))
      .withColumn("tfidf",
        round(col("tf") * log((lit(corpusSize) + 1.0) / (col("df") + 1.0)), 6))
      .select(col(idCol), col("token"), col("tf"), col("df"), col("tfidf"))
  }

  /** GPT-2-style pre-tokenizer pattern, simplified into the
    * Java-regex ∩ RE2 common subset (the original's `(?!\S)` negative
    * lookahead is dropped — RE2 has no lookaround): a token is an
    * optional leading space + a letter run, digit run, or
    * punctuation run, or bare whitespace. Counting matches
    * approximates BPE pre-tokenization well enough for
    * cost/length budgeting at scan speed — no vocabulary needed.
    */
  val bpeTokenRe = " ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Approximate BPE-style token count (matches of [[bpeTokenRe]]). */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(bpeTokenRe)).cast("long")

  /** PII patterns, deliberately inside the Java-regex ∩ RE2 common
    * subset (character classes, bounded quantifiers, \b — no
    * lookaround or backrefs) so Spark and the DuckDB oracle match the
    * same spans. Conservative by design: a corpus scrub wants recall
    * on the obvious shapes at scan speed; high-precision PII systems
    * layer NER on top of this pass.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe = "\\+\\d{1,2}-\\d{3}-\\d{3,4}"

  /** Per-type PII match counts (on the ORIGINAL text). */
  def piiCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_emails" -> regexp_count(text, lit(emailRe)).cast("long"),
    "n_ips"    -> regexp_count(text, lit(ipv4Re)).cast("long"),
    "n_phones" -> regexp_count(text, lit(phoneRe)).cast("long"))

  /** Redact PII with typed placeholders. Emails first: an IP-shaped
    * host inside an address is swallowed by the email placeholder
    * rather than double-redacted.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        ipv4Re, "<IP>"),
      phoneRe, "<PHONE>")

  /** Repetition features over word n-gram shingles: total positions,
    * distinct shingles, and their ratio — low unique_ratio = the
    * boilerplate/spam signal quality filters cut on.
    */
  def repetitionFeatures(text: Column, n: Int = 3): Seq[(String, Column)] = {
    val total = greatest(size(tokens(text)) - (n - 1), lit(1)).cast("long")
    val dist  = size(shingles(text, n)).cast("long")
    Seq(
      "n_shingles" -> total,
      "n_distinct" -> dist,
      "uniq_ratio" -> round(dist.cast("double") / total, 4))
  }

  /** Repetition-COVERAGE quality features (the Gopher repetition
    * rules, Rae et al. '21 §A1.1 — public knowledge), word-level:
    * for one n, the fraction of token positions covered by (a)
    * occurrences of the doc's most frequent n-gram and (b) any n-gram
    * occurring at least twice. Coverage is a position-set UNION, so
    * overlapping occurrences never double-count and both fractions
    * are exact and ≤ 1 — unlike the count×n approximation, which is
    * neither. Tie-break for the top gram: count desc, gram lex asc
    * (deterministic cross-engine).
    *
    * Shape at scale: one (doc, gram) groupBy with map-side combine,
    * one per-doc window (partitioned — never a global window), two
    * per-doc coverage aggregations. Everything is keyed by doc, so
    * the plan is embarrassingly parallel at any corpus size.
    */
  def ngramCoverage(docs: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column, n: Int): org.apache.spark.sql.DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val ts = tokens(text)
    val base = docs.select(col(idCol), ts.as("ts"), size(ts).as("n_tokens"))
    val grams = base
      .select(col(idCol), col("ts"), col("n_tokens"),
        explode(when(col("n_tokens") >= n, sequence(lit(1), col("n_tokens") - (n - 1)))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(col(idCol), col("i"),
        concat_ws(" ", slice(col("ts"), col("i"), lit(n))).as("gram"))
    val gc = grams.groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("cnt").desc, col("gram").asc)
    val top = gc.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col(idCol), col("gram"))
    val dup = gc.filter(col("cnt") >= 2).select(col(idCol), col("gram"))
    def cov(sel: org.apache.spark.sql.DataFrame, as: String) = grams
      .join(sel, Seq(idCol, "gram"))
      .select(col(idCol), explode(sequence(col("i"), col("i") + (n - 1))).as("p"))
      .groupBy(col(idCol)).agg(countDistinct(col("p")).as(as))
    base.select(col(idCol), col("n_tokens").cast("long").as("n_tokens"))
      .join(cov(top, "top_cov"), Seq(idCol), "left")
      .join(cov(dup, "dup_cov"), Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        round(coalesce(col("top_cov"), lit(0L)).cast("double") / col("n_tokens"), 6)
          .as(s"top${n}_frac"),
        round(coalesce(col("dup_cov"), lit(0L)).cast("double") / col("n_tokens"), 6)
          .as(s"dup${n}_frac"))
  }

  /** Fixed-size token chunking with overlap — the context-window
    * prep step: windows of `chunkTokens` advancing by
    * `chunkTokens - overlapTokens`, last window ragged. Returns
    * (idCol, chunk_idx, n_in_chunk, chunk_md5). Explode + pure
    * expressions: amplification is bounded by 1/stride, no shuffle.
    */
  def chunk(docs: org.apache.spark.sql.DataFrame, idCol: String, text: Column,
      chunkTokens: Int = 50, overlapTokens: Int = 10): org.apache.spark.sql.DataFrame = {
    require(overlapTokens < chunkTokens, "overlap must be smaller than the chunk")
    val stride = chunkTokens - overlapTokens
    val ts = tokens(text)
    val nChunks = ceil(greatest(size(ts) - chunkTokens, lit(0)).cast("double") / stride)
      .cast("long") + 1L
    docs.select(col(idCol), ts.as("__ts"), nChunks.as("__nc"))
      .select(col(idCol), col("__ts"),
        explode(sequence(lit(0L), col("__nc") - 1)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        least(lit(chunkTokens.toLong),
          size(col("__ts")) - col("chunk_idx") * stride).as("n_in_chunk"),
        md5(concat_ws(" ",
          slice(col("__ts"), (col("chunk_idx") * stride + 1).cast("int"), lit(chunkTokens))))
          .as("chunk_md5"))
  }

  /** Sequence packing: assign docs (in `idCol` order, within each
    * stratum) to fixed token-capacity bins by running total — the
    * "concat and cut at the context boundary" layout of packed
    * pretraining data. Per-stratum windows keep the running sum
    * parallel across strata (a single global order would serialize
    * at 100 TB). Returns (strata, idCol, n_tokens, bin, offset).
    */
  def pack(docs: org.apache.spark.sql.DataFrame, idCol: String, strataCol: String,
      text: Column, capacityTokens: Int = 256): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(col(idCol))
    docs.select(col(strataCol), col(idCol),
      size(tokens(text)).cast("long").as("n_tokens"))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .select(col(strataCol), col(idCol), col("n_tokens"),
        expr(s"(__cum - n_tokens) div $capacityTokens").as("bin"),
        ((col("__cum") - col("n_tokens")) % capacityTokens).as("offset"))
  }

  /** Domain-mixture sampling to a token budget: each source gets a
    * deterministic acceptance rate so the sampled corpus hits
    * ~`budgetTokens` at the requested mixture `weights` — the
    * "domain reweighting" step of training-data prep (sample web down,
    * keep code/books, hit a token count), reproducible run-over-run
    * because acceptance is the same md5 [[hashSample]] gate (no RNG
    * state, no partition-order dependence).
    *
    * Rates: `permille_s = min(1000, floor(1000 · budget · w_s / tokens_s))`
    * over EXACT per-source whitespace-token totals. An over-requested
    * source caps at keep-everything (sampling cannot mint data) — the
    * realized mixture then under-delivers that source, visible in the
    * output rather than silently rebalanced. Sources absent from
    * `weights` drop entirely.
    *
    * Scale: one map-side-combined aggregate for the totals (rows =
    * number of sources, driver-tiny), rates folded into ONE `when`
    * chain, then a single filter scan of the corpus — no shuffle, no
    * join. Returns the sampled rows with their `__permille` rate.
    */
  def mixSources(docs: org.apache.spark.sql.DataFrame, sourceCol: String,
      text: Column, weights: Seq[(String, Double)],
      budgetTokens: Long): org.apache.spark.sql.DataFrame = {
    val toks = size(tokens(text)).cast("long")
    val totals = docs.groupBy(col(sourceCol)).agg(sum(toks).as("toks"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val permille = weights.map { case (s, w) =>
      val t = totals.getOrElse(s, 0L)
      val p = if (t <= 0L) 0
        else math.min(1000.0, math.floor(1000.0 * budgetTokens * w / t)).toInt
      s -> p
    }
    val pCol = permille.foldLeft(lit(0)) { case (acc, (s, p)) =>
      when(col(sourceCol) === s, lit(p)).otherwise(acc)
    }
    docs.withColumn("__permille", pCol)
      .filter(hash32(0, text) % 1000 < col("__permille"))
  }

  /** Exact token-budget mixture construction: for each source, take
    * documents in deterministic md5-hash order until the NEXT doc
    * would exceed the source's token budget — the hard-cap
    * counterpart of [[mixSources]] (which hits budgets only in
    * expectation). The selection is the standard training-mix build
    * for small high-quality sources: never exceed the budget, fill
    * it as far as the hash order allows, reproducible across runs,
    * engines, and repartitioning.
    *
    * Scale: the per-source running totals come from
    * [[graft.operators.Skew.perGroupPrefixSum]] — range-partitioned
    * two-phase prefix sums, so a 100 TB source never funnels through
    * one task the way `sum() OVER (PARTITION BY source)` would.
    *
    * Returns the kept rows as (idCol, sourceCol, n_toks, cum_before)
    * where cum_before is the exact token total of earlier-hash picks
    * from the same source.
    */
  def takeToTokenBudget(docs: org.apache.spark.sql.DataFrame, sourceCol: String,
      idCol: String, text: Column,
      budgets: Seq[(String, Long)]): org.apache.spark.sql.DataFrame = {
    val nToks = size(tokens(text)).cast("long")
    val ord = Seq(hash32(0, col(idCol).cast("string")), col(idCol))
    val withCum = graft.operators.Skew.perGroupPrefixSum(
      docs.select(col(idCol), col(sourceCol), nToks.as("n_toks")),
      col(sourceCol), ord, col("n_toks"), "__cum")
    val budgetCol = budgets.foldLeft(lit(0L)) { case (acc, (s, b)) =>
      when(col(sourceCol) === s, lit(b)).otherwise(acc)
    }
    withCum
      .withColumn("cum_before", col("__cum") - col("n_toks"))
      .filter(col("__cum") <= budgetCol)
      .select(col(idCol), col(sourceCol), col("n_toks"), col("cum_before"))
  }

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03 —
    * the MOSS algorithm): positioned k-gram hashes, and from every
    * window of `w` consecutive hashes the minimum is selected
    * (leftmost-min tie rule via the sortable `md5 || '|' || pos` key;
    * md5 ties only occur for identical k-grams, and the position
    * suffix resolves them identically in both engines). Guarantees:
    * any shared substring of length >= w + k - 1 tokens yields at
    * least one shared fingerprint, and selection density is ~2/(w+1)
    * — the position-robust partial-overlap detector that bag-of-words
    * fingerprints and exact content hashes both miss.
    *
    * Shape: one posexplode + ONE per-doc window function (docs bound
    * the partition, so no skew) + a distinct. Texts shorter than k
    * tokens hash as one whole-text gram ([[shingles]]' rule).
    *
    * Takedowns on the published index go through
    * [[graft.pipeline.Tombstones]] and are exact: the df caps of
    * [[winnowMatches]]/[[winnowOverlapPairs]] are recomputed over the
    * survivors, so fingerprints capped only by removed copies resurface.
    */
  def winnow(docs: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column, k: Int = 3, w: Int = 4): org.apache.spark.sql.DataFrame = {
    require(k > 0 && w > 0, s"bad winnow params: k=$k w=$w")
    val n = size(tokens(text))
    val np = greatest(n - (k - 1), lit(1))
    val g = docs
      .select(col(idCol), tokens(text).as("__ts"), np.as("__np"))
      .select(col(idCol), col("__np"),
        explode(sequence(lit(1), col("__np"))).as("__i"), col("__ts"))
      .select(col(idCol), col("__np"), col("__i"),
        concat(md5(array_join(slice(col("__ts"), col("__i"), lit(k)), " ")),
          lit("|"), lpad(col("__i").cast("string"), 8, "0")).as("__key"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__i"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, w - 1)
    g.withColumn("__mk", min(col("__key")).over(win))
      .filter(col("__i") <= greatest(col("__np") - (w - 1), lit(1)))
      .select(col(idCol), substring(col("__mk"), 34, 8).cast("long").as("pos"),
        substring(col("__mk"), 1, 32).as("fp"))
      .distinct()
  }

  /** The document-frequency cap as a Column: the absolute `maxDf`, or
    * — when `maxDfPermille` is set — that permille of the index's
    * distinct documents (floor 1). An absolute cap silently changes
    * meaning across corpus sizes (1000 docs is every doc at probe
    * scale, noise at 100 TB); the relative form keeps "boilerplate"
    * defined as a corpus FRACTION. The doc count rides in as a 1-row
    * broadcast cross join — declarative, never a driver collect.
    */
  private def dfCap(index: org.apache.spark.sql.DataFrame, idCol: String,
      maxDf: Int, maxDfPermille: Option[Int])
      : (org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame, Column) =
    maxDfPermille match {
      case None => (identity, lit(maxDf.toLong))
      case Some(p) =>
        require(p >= 1 && p <= 1000, s"bad maxDfPermille: $p")
        val n = broadcast(index.agg(countDistinct(col(idCol)).as("__ndocs")))
        (df => df.crossJoin(n),
          greatest(floor(col("__ndocs") * p / 1000), lit(1L)))
    }

  /** Cross-doc overlap against a PUBLISHED winnow fingerprint index
    * (the MOSS use case): fingerprint the batch (O(batch) — winnowing
    * is per-doc pure, so batch fingerprints ARE the incremental index
    * append, and appended-artifact == republish bit-for-bit), join on
    * the md5-uniform `fp` key, and report per (batch doc, corpus doc)
    * the shared-fingerprint count with position evidence (earliest
    * shared fingerprint position on each side). Over-common
    * fingerprints (boilerplate/licence blocks — the fan-out hazard)
    * are dropped at MATCH time by a document-frequency cap computed
    * off the index, so the published artifact itself stays purely
    * additive. `index` is `winnow(corpus, ...)` output (same k, w).
    */
  def winnowMatches(index: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame, idCol: String, text: Column,
      k: Int = 3, w: Int = 4, minShared: Int = 2,
      maxDf: Int = 1000, maxDfPermille: Option[Int] = None): org.apache.spark.sql.DataFrame = {
    require(minShared >= 1 && maxDf >= 1, s"bad winnowMatches params: $minShared, $maxDf")
    val (withCap, cap) = dfCap(index, idCol, maxDf, maxDfPermille)
    val okFp = withCap(index.groupBy(col("fp"))
      .agg(countDistinct(col(idCol)).as("__df")))
      .filter(col("__df") <= cap)
      .select(col("fp"))
    val c = index.join(okFp, Seq("fp"), "left_semi")
      .select(col("fp"), col(idCol).as("corpus_id"), col("pos").as("__cpos"))
    winnow(batch, idCol, text, k, w)
      .select(col("fp"), col(idCol).as("batch_id"), col("pos").as("__bpos"))
      .join(c, Seq("fp"))
      .groupBy(col("batch_id"), col("corpus_id"))
      .agg(countDistinct(col("fp")).as("n_shared"),
        min(col("__bpos")).as("batch_pos"), min(col("__cpos")).as("corpus_pos"))
      .filter(col("n_shared") >= minShared)
  }

  /** Corpus-wide overlap pairs off one winnow index: every (da < db)
    * document pair sharing >= `minShared` fingerprints, with the same
    * df cap and position evidence as [[winnowMatches]]. The join is
    * keyed by md5-uniform fingerprints and bounded by per-fp document
    * lists (capped at `maxDf`) — never all-pairs.
    */
  def winnowOverlapPairs(index: org.apache.spark.sql.DataFrame, idCol: String,
      minShared: Int = 2, maxDf: Int = 1000,
      maxDfPermille: Option[Int] = None): org.apache.spark.sql.DataFrame = {
    require(minShared >= 1 && maxDf >= 1, s"bad winnowOverlapPairs params: $minShared, $maxDf")
    val (withCap, cap) = dfCap(index, idCol, maxDf, maxDfPermille)
    val okFp = withCap(index.groupBy(col("fp"))
      .agg(countDistinct(col(idCol)).as("__df")))
      .filter(col("__df") <= cap)
      .select(col("fp"))
    val pruned = index.join(okFp, Seq("fp"), "left_semi")
    val a = pruned.select(col("fp"), col(idCol).as("da"), col("pos").as("__apos"))
    val b = pruned.select(col("fp"), col(idCol).as("db"), col("pos").as("__bpos"))
    a.join(b, Seq("fp")).filter(col("da") < col("db"))
      .groupBy(col("da"), col("db"))
      .agg(countDistinct(col("fp")).as("n_shared"),
        min(col("__apos")).as("a_pos"), min(col("__bpos")).as("b_pos"))
      .filter(col("n_shared") >= minShared)
  }

  /** GPT-style sequence packing (concat-then-split): documents are
    * laid end-to-end in the reproducible md5-hash order (+`sepTokens`
    * separator tokens each, the EOS between documents), and the token
    * stream is cut into fixed `ctxLen` windows. Per document:
    * (id, n_toks, bin_first, bin_last, off_in_bin) — everything a
    * loader needs to materialize any window, and a doc spanning a cut
    * shows bin_first < bin_last (the attention-mask seam).
    *
    * This is the packing pre-training actually uses (no bin-packing
    * solver: first-fit/best-fit are inherently sequential, while the
    * concat layout is ONE prefix sum). The global running total uses
    * the two-phase [[graft.operators.Skew.perGroupPrefixSum]] under a
    * constant group: range-partitioned by the hash key, so the corpus
    * never funnels through one task — only per-partition subtotals
    * reach the driver.
    */
  def packSequences(docs: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column, ctxLen: Int, sepTokens: Int = 1): org.apache.spark.sql.DataFrame = {
    require(ctxLen > 0, s"ctxLen must be positive: $ctxLen")
    val nToks = (size(tokens(text)) + sepTokens).cast("long")
    val withCum = graft.operators.Skew.perGroupPrefixSum(
      docs.select(col(idCol), nToks.as("n_toks"),
        hash32(0, col(idCol).cast("string")).as("__h")),
      lit("_"), Seq(col("__h"), col(idCol)), col("n_toks"), "__cum")
    withCum.select(col(idCol), col("n_toks"),
      expr(s"(__cum - n_toks) DIV $ctxLen").as("bin_first"),
      expr(s"(__cum - 1) DIV $ctxLen").as("bin_last"),
      ((col("__cum") - col("n_toks")) % ctxLen).as("off_in_bin"))
  }

  /** Temperature-flattened mixture sampling (α = 0.5): per-source
    * keep quotas proportional to n_i^α instead of n_i — the
    * multilingual up-weighting of low-resource sources (XLM, mT5's
    * α-sampling) realized deterministically. Source weights are
    * `s_i = floor(sqrt(n_i))` (exact cross-engine: sqrt is correctly
    * rounded and s_i < 2^26 keeps the floor unambiguous), the global
    * keep target is the integer order-statistic
    * `K = (keepPermille·N + 999) DIV 1000`, and each source's quota
    * is `min((K·s_i) DIV S, n_i)` — pure BIGINT arithmetic whose one
    * product stays under 2^63 for any corpus below ~4·10^12 docs.
    * Docs fill a quota in md5-hash order of their id (the
    * reproducible shuffle), ranked per source by the two-phase
    * [[graft.operators.Skew.perGroupPrefixSum]] — never a per-source
    * SinglePartition window. Σ quotas ≤ K (floor loses at most one
    * doc per source).
    */
  def alphaMixture(docs: org.apache.spark.sql.DataFrame, sourceCol: String,
      idCol: String, keepPermille: Int = 400): org.apache.spark.sql.DataFrame = {
    require(keepPermille >= 0 && keepPermille <= 1000, s"bad permille $keepPermille")
    val n = docs.groupBy(col(sourceCol)).agg(count(lit(1)).as("__cnt"))
    val s = n.select(col(sourceCol), col("__cnt"),
      floor(sqrt(col("__cnt").cast("double"))).cast("long").as("__w"))
    val tot = s.agg(sum(col("__cnt")).as("__ntot"), sum(col("__w")).as("__wtot"))
    val quota = s.crossJoin(broadcast(tot)).select(col(sourceCol),
      least(expr(s"((($keepPermille * __ntot + 999) DIV 1000) * __w) DIV __wtot"),
        col("__cnt")).as("quota"))
    val ranked = graft.operators.Skew.perGroupPrefixSum(
      docs.select(col(idCol), col(sourceCol),
        hash32(0, col(idCol).cast("string")).as("__h")),
      col(sourceCol), Seq(col("__h"), col(idCol)), lit(1L), "rnk")
    ranked.join(broadcast(quota), Seq(sourceCol))
      .select(col(idCol), col(sourceCol), col("rnk"), col("quota"),
        when(col("rnk") <= col("quota"), 1L).otherwise(0L).as("selected"))
  }

  /** Per-document average unigram log-probability under the corpus'
    * own unigram distribution — the cheap language-model quality
    * score (KenLM-style filtering approximated at scan speed).
    * Per-token log-probs are rounded to 6 dp and scaled to exact
    * BIGINT micros BEFORE the per-doc sum, so the aggregation is
    * integer-exact and order-independent — a plain double sum of
    * ln() terms would be summation-order-dependent across engines.
    */
  def unigramLogProb(docs: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol), explode(tokens(text)).as("token"))
    val tf   = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val tot  = tf.agg(sum(col("cnt")).as("tot"))
    val lp = tf.crossJoin(tot).select(col("token"),
      expr("CAST(round(round(ln(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)), 6) * 1000000, 0) AS BIGINT)")
        .as("lp_micro"))
    // the per-doc score stays in EXACT integer micro-nats: a final
    // `round(sum/1e6/n, 6)` double was engine-divergent on 0.5-ulp
    // ties (10/50k docs at 10x scale); sum + count are hash-proof at
    // any SF and the average is a consumer-side division
    toks.join(lp, "token")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("lp_micro")).as("sum_lp_micro"))
  }

  /** Per-document average trigram log-probability under a stupid-
    * backoff LM trained on the corpus itself (Brants et al., EMNLP'07
    * "Large Language Models in Machine Translation" — the distributed
    * n-gram LM built exactly this way at web scale; CCNet-style
    * perplexity filtering is this score with a pre-trained model).
    *
    * Training is three map-side-combinable groupBys over the token
    * stream (trigram / bigram / unigram counts) — the same shape as
    * Brants' MapReduce counting step, so it holds at 100 TB: the
    * shuffle carries one row per DISTINCT n-gram per partition, not
    * per token. Gram extraction is zero-shuffle: the token ARRAY stays
    * with the row and the two context words are `element_at` lookups,
    * no self-join and no window.
    *
    * Scoring joins the positioned token stream against the three
    * count tables (Zipf-skewed keys are fine: these are lookup joins
    * whose build sides are counts, and AQE splits skewed shuffle
    * partitions; when the vocabulary fits the broadcast budget the
    * unigram/bigram legs broadcast — at corpus scale the trigram
    * table is the one that must stay a shuffle join).
    *
    * Backoff (score, not a distribution — Brants §4): for position p
    * with context words w1 (previous) and w2 (before that),
    *   p = 0:  S = c1(w)/N
    *   p = 1:  S = c2(w1,w)/c1(w1)        if the bigram was seen
    *           S = 0.4 * S1(w)            otherwise
    *   p >= 2: S = c3(w2,w1,w)/c2(w2,w1)  if the trigram was seen
    *           S = 0.4 * c2(w1,w)/c1(w1)  else if the bigram was seen
    *           S = 0.16 * S1(w)           otherwise
    * where the unigram leg itself backs off for out-of-vocabulary
    * words: S1(w) = c1(w)/N if seen, else 0.4/N (the zerogram 1/N
    * with one more penalty — stupid backoff has no principled OOV
    * theory, so the choice is explicit and documented here). A seen
    * n-gram's context count is never null (the context is a prefix
    * of the seen gram), so no arm divides by null. Per-token
    * log-scores round to 6 dp and scale to exact BIGINT micro-nats
    * BEFORE the per-doc sum (the [[unigramLogProb]] exactness
    * contract: integer sums are order-independent across engines; a
    * double ln() sum is not).
    */
  def stupidBackoffLogProb(train: org.apache.spark.sql.DataFrame,
      score: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column): org.apache.spark.sql.DataFrame = {
    val tr = positionedTokens(train, idCol, text)
    val uni = tr.groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val bi = tr.filter(col("pos") >= 1)
      .groupBy(col("w1"), col("w")).agg(count(lit(1)).as("c2"))
    val tri = tr.filter(col("pos") >= 2)
      .groupBy(col("w2"), col("w1"), col("w")).agg(count(lit(1)).as("c3"))
    val tot = tr.agg(count(lit(1)).as("n"))
    scoreBackoff(score, idCol, text, uni, bi, tri, tot)
  }

  /** Positioned token stream with its two context words: (idCol, pos,
    * w, w1, w2) — zero shuffle, the context words are `element_at`
    * lookups on the in-row token array.
    */
  // NO spread here (r16, measured): the token posexplode is cheap per
  // row — every LM/DSIR line that routed through a spread exchange
  // REGRESSED 1.4-2.6× (the repartition + per-call planning cost more
  // than the serial scan stage it parallelized). Spread pays only for
  // md5/shingle/outer-product-heavy passes.
  private[pipeline] def positionedTokens(df: org.apache.spark.sql.DataFrame,
      idCol: String, text: Column): org.apache.spark.sql.DataFrame = df
    .select(col(idCol), tokens(text).as("ts"))
    .select(col(idCol), col("ts"), posexplode(col("ts")).as(Seq("pos", "w")))
    .select(col(idCol), col("pos"), col("w"),
      when(col("pos") >= 1, element_at(col("ts"), col("pos"))).as("w1"),
      when(col("pos") >= 2, element_at(col("ts"), col("pos") - 1)).as("w2"))

  /** The scoring half of [[stupidBackoffLogProb]], shared with the
    * published-counts path ([[LmIndex]]): counts are INPUTS, so any
    * two count sources that agree row-for-row score bit-identically.
    * `uni(w, c1)`, `bi(w1, w, c2)`, `tri(w2, w1, w, c3)`, `tot(n)`
    * (one row).
    */
  private[pipeline] def scoreBackoff(score: org.apache.spark.sql.DataFrame,
      idCol: String, text: Column,
      uni: org.apache.spark.sql.DataFrame, bi: org.apache.spark.sql.DataFrame,
      tri: org.apache.spark.sql.DataFrame,
      tot: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val d = (c: Column) => c.cast("double")
    val joined = positionedTokens(score, idCol, text)
      .join(uni, Seq("w"), "left")
      .join(uni.select(col("w").as("w1"), col("c1").as("c1ctx")), Seq("w1"), "left")
      .join(bi, Seq("w1", "w"), "left")
      .join(bi.select(col("w1").as("w2"), col("w").as("w1"), col("c2").as("c2ctx")),
        Seq("w2", "w1"), "left")
      .join(tri, Seq("w2", "w1", "w"), "left")
      .crossJoin(tot)
    // IEEE-double steps mirrored verbatim in the oracle SQL: each arm
    // is ln(<literal> * (count / count)) with left-to-right evaluation
    val s1 = when(col("c1").isNotNull, d(col("c1")) / d(col("n")))
      .otherwise(lit(0.4) / d(col("n")))
    val lp = when(col("pos") === 0, log(s1))
      .when(col("pos") === 1,
        when(col("c2").isNotNull, log(d(col("c2")) / d(col("c1ctx"))))
          .otherwise(log(lit(0.4) * s1)))
      .otherwise(
        when(col("c3").isNotNull, log(d(col("c3")) / d(col("c2ctx"))))
          .when(col("c2").isNotNull, log(lit(0.4) * (d(col("c2")) / d(col("c1ctx")))))
          .otherwise(log(lit(0.16) * s1)))
    joined
      .select(col(idCol),
        round(round(lp, 6) * 1000000, 0).cast("long").as("lp_micro"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp_micro")).as("sum_lp_micro"))
  }

  /** Self-trained stupid backoff: every doc scored through the LM of
    * the whole corpus (its own grams included, so the backoff arms
    * only fire in the held-out form above — which is the production
    * use: a clean-corpus LM scoring candidate data).
    */
  def stupidBackoffLogProb(docs: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column): org.apache.spark.sql.DataFrame =
    stupidBackoffLogProb(docs, docs, idCol, text)

  /** CCNet-style perplexity filtering (Wenzek et al., LREC'20): score
    * candidate docs through the clean-corpus LM, reduce to per-token
    * negative log-prob (micro-nats — monotone in perplexity, no
    * exp() on the compare path), and bucket head/middle/tail at the
    * pHead/pMid permille cutoffs of the corpus NLL distribution.
    *
    * Exactness: the cutoff is the VALUE at the k-th order statistic
    * (k = (p·N + 999) DIV 1000, pure integer arithmetic — never
    * ceil(0.3·N), whose double product is off-by-one at exact
    * multiples), and docs bucket by value comparison against it, so
    * ties at the cutoff route deterministically in both engines.
    *
    * Scale: ranking uses [[graft.operators.Skew.globalRank]]
    * (range-partitioned two-phase rank — no SinglePartition window),
    * and only the two cutoff VALUES flow back, broadcast. The final
    * bucket pass reuses the rank stage's checkpointed frame, so the
    * LM scoring runs once.
    */
  def perplexityFilter(train: org.apache.spark.sql.DataFrame,
      score: org.apache.spark.sql.DataFrame, idCol: String, text: Column,
      pHeadPermille: Int = 300, pMidPermille: Int = 700): org.apache.spark.sql.DataFrame = {
    // >= 1, not >= 0: rank 0 matches no row, so a 0-permille cutoff
    // would silently fall back to the other cutoff's value (or null)
    // and misbucket everything below it — fail loud instead
    require(pHeadPermille >= 1 && pHeadPermille <= pMidPermille && pMidPermille <= 1000,
      s"permille cutoffs must satisfy 1 <= head <= mid <= 1000: $pHeadPermille, $pMidPermille")
    val scored = stupidBackoffLogProb(train, score, idCol, text)
    val per = scored.select(col(idCol), col("n_tokens"),
      floor((-col("sum_lp_micro")).cast("double") / col("n_tokens").cast("double"))
        .cast("long").as("nll_micro_per_tok"))
    val ranked = graft.operators.Skew.globalRank(per,
      Seq(col("nll_micro_per_tok"), col(idCol)), "__rnk")
    val nDf = per.agg(count(lit(1)).as("__n"))
    val cuts = ranked.crossJoin(broadcast(nDf))
      .filter(col("__rnk") === expr(s"($pHeadPermille * __n + 999) DIV 1000") ||
        col("__rnk") === expr(s"($pMidPermille * __n + 999) DIV 1000"))
      .agg(min(col("nll_micro_per_tok")).as("__c_head"),
        max(col("nll_micro_per_tok")).as("__c_mid"))
    ranked.crossJoin(broadcast(cuts))
      .select(col(idCol), col("n_tokens"), col("nll_micro_per_tok"),
        when(col("nll_micro_per_tok") <= col("__c_head"), lit("head"))
          .when(col("nll_micro_per_tok") <= col("__c_mid"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Quality features: exact integer counts (cross-engine safe) plus
    * a rounded composite. Assumes single-space-separated text.
    */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val n    = size(tokens(text))
    val sumLen = length(text) - (n - 1) // total token chars
    val stop = lexiconHits(text, lexicons.head._2)
    Seq(
      "n_tokens" -> n.cast("long"),
      "n_chars_tok" -> sumLen.cast("long"),
      "n_stopwords" -> stop.cast("long"),
      "mean_word_len" -> round(sumLen.cast("double") / n, 4),
      "stopword_ratio" -> round(stop.cast("double") / n, 4))
  }
}
