package graft.queries

import org.apache.spark.sql.functions._

import graft.pipeline.{TextOps, Tombstones}
import graft.sources.Tables

/** Text analysis at scan speed over `documents`: token stats, quality
  * features, language-ID scoring, bag-of-words fingerprints.
  */
object TextQueries extends QueryModule {

  /** Held-out stupid-backoff oracle (train = even docs, score =
    * odd docs) — shared by q_text_lm_backoff and the published-
    * counts gate q_text_lm_incremental, whose (%4==0) + (%4==2)
    * publish/append must reproduce the even-trained scores.
    */
  private val lmBackoffOracle: String =
    """WITH tokt AS (
           |  SELECT doc_id, p - 1 AS pos, ts[p] AS w,
           |         CASE WHEN p >= 2 THEN ts[p-1] END AS w1,
           |         CASE WHEN p >= 3 THEN ts[p-2] END AS w2
           |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents
           |        WHERE doc_id % 2 = 0),
           |       LATERAL unnest(generate_series(1, len(ts))) AS u(p)),
           |toks AS (
           |  SELECT doc_id, p - 1 AS pos, ts[p] AS w,
           |         CASE WHEN p >= 2 THEN ts[p-1] END AS w1,
           |         CASE WHEN p >= 3 THEN ts[p-2] END AS w2
           |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents
           |        WHERE doc_id % 2 = 1),
           |       LATERAL unnest(generate_series(1, len(ts))) AS u(p)),
           |uni AS (SELECT w, count(*) AS c1 FROM tokt GROUP BY w),
           |bi  AS (SELECT w1, w, count(*) AS c2 FROM tokt WHERE pos >= 1 GROUP BY w1, w),
           |tri AS (SELECT w2, w1, w, count(*) AS c3 FROM tokt WHERE pos >= 2 GROUP BY w2, w1, w),
           |tot AS (SELECT count(*) AS n FROM tokt),
           |j AS (
           |  SELECT t.doc_id, t.pos, u.c1, uc.c1 AS c1ctx, b.c2, bc.c2 AS c2ctx,
           |         tr.c3,
           |         CASE WHEN u.c1 IS NOT NULL
           |              THEN CAST(u.c1 AS DOUBLE) / CAST(tot.n AS DOUBLE)
           |              ELSE 0.4 / CAST(tot.n AS DOUBLE) END AS s1
           |  FROM toks t
           |  LEFT JOIN uni u ON t.w = u.w
           |  LEFT JOIN uni uc ON t.w1 = uc.w
           |  LEFT JOIN bi b ON t.w1 = b.w1 AND t.w = b.w
           |  LEFT JOIN bi bc ON t.w2 = bc.w1 AND t.w1 = bc.w
           |  LEFT JOIN tri tr ON t.w2 = tr.w2 AND t.w1 = tr.w1 AND t.w = tr.w, tot),
           |scored AS (
           |  SELECT doc_id,
           |    CASE
           |      WHEN pos = 0 THEN ln(s1)
           |      WHEN pos = 1 THEN CASE WHEN c2 IS NOT NULL
           |        THEN ln(CAST(c2 AS DOUBLE) / CAST(c1ctx AS DOUBLE))
           |        ELSE ln(0.4 * s1) END
           |      ELSE CASE
           |        WHEN c3 IS NOT NULL THEN ln(CAST(c3 AS DOUBLE) / CAST(c2ctx AS DOUBLE))
           |        WHEN c2 IS NOT NULL THEN ln(0.4 * (CAST(c2 AS DOUBLE) / CAST(c1ctx AS DOUBLE)))
           |        ELSE ln(0.16 * s1) END
           |    END AS lp
           |  FROM j)
           |SELECT doc_id, count(*) AS n_tokens,
           |  CAST(sum(CAST(round(round(lp, 6) * 1000000, 0) AS BIGINT)) AS BIGINT) AS sum_lp_micro
           |FROM scored GROUP BY doc_id""".stripMargin

  /** One namespaced stupid-backoff scoring chain (train slice →
    * counts → per-token lp over the shared `toks` CTE → per-doc
    * micro-nat sums as `<p>base(doc_id, n_tokens, sum_lp_micro)`).
    * The body is [[lmBackoffOracle]]'s chain with prefixed CTE names
    * and a parameterized training WHERE — two chains compose into one
    * statement for contrastive (two-LM) oracles.
    */
  private def backoffChainSql(p: String, trainWhere: String): String =
    s"""$p${"tokt"} AS (
       |  SELECT doc_id, p - 1 AS pos, ts[p] AS w,
       |         CASE WHEN p >= 2 THEN ts[p-1] END AS w1,
       |         CASE WHEN p >= 3 THEN ts[p-2] END AS w2
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents
       |        WHERE $trainWhere),
       |       LATERAL unnest(generate_series(1, len(ts))) AS u(p)),
       |${p}uni AS (SELECT w, count(*) AS c1 FROM ${p}tokt GROUP BY w),
       |${p}bi  AS (SELECT w1, w, count(*) AS c2 FROM ${p}tokt WHERE pos >= 1 GROUP BY w1, w),
       |${p}tri AS (SELECT w2, w1, w, count(*) AS c3 FROM ${p}tokt WHERE pos >= 2 GROUP BY w2, w1, w),
       |${p}tot AS (SELECT count(*) AS n FROM ${p}tokt),
       |${p}j AS (
       |  SELECT t.doc_id, t.pos, u.c1, uc.c1 AS c1ctx, b.c2, bc.c2 AS c2ctx,
       |         tr.c3,
       |         CASE WHEN u.c1 IS NOT NULL
       |              THEN CAST(u.c1 AS DOUBLE) / CAST(${p}tot.n AS DOUBLE)
       |              ELSE 0.4 / CAST(${p}tot.n AS DOUBLE) END AS s1
       |  FROM toks t
       |  LEFT JOIN ${p}uni u ON t.w = u.w
       |  LEFT JOIN ${p}uni uc ON t.w1 = uc.w
       |  LEFT JOIN ${p}bi b ON t.w1 = b.w1 AND t.w = b.w
       |  LEFT JOIN ${p}bi bc ON t.w2 = bc.w1 AND t.w1 = bc.w
       |  LEFT JOIN ${p}tri tr ON t.w2 = tr.w2 AND t.w1 = tr.w1 AND t.w = tr.w, ${p}tot),
       |${p}scored AS (
       |  SELECT doc_id,
       |    CASE
       |      WHEN pos = 0 THEN ln(s1)
       |      WHEN pos = 1 THEN CASE WHEN c2 IS NOT NULL
       |        THEN ln(CAST(c2 AS DOUBLE) / CAST(c1ctx AS DOUBLE))
       |        ELSE ln(0.4 * s1) END
       |      ELSE CASE
       |        WHEN c3 IS NOT NULL THEN ln(CAST(c3 AS DOUBLE) / CAST(c2ctx AS DOUBLE))
       |        WHEN c2 IS NOT NULL THEN ln(0.4 * (CAST(c2 AS DOUBLE) / CAST(c1ctx AS DOUBLE)))
       |        ELSE ln(0.16 * s1) END
       |    END AS lp
       |  FROM ${p}j),
       |${p}base AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |    CAST(sum(CAST(round(round(lp, 6) * 1000000, 0) AS BIGINT)) AS BIGINT) AS sum_lp_micro
       |  FROM ${p}scored GROUP BY doc_id)""".stripMargin

  /** Two-LM contrastive oracle: in-domain = even 'en' docs, general =
    * all even docs, candidates = odd docs. `toks` is MATERIALIZED —
    * DuckDB inlines CTEs by default and both chains reference it.
    */
  private def mooreLewisOracle: String = {
    val nllIn  = "CAST(floor(CAST(-a.sum_lp_micro AS DOUBLE) / CAST(a.n_tokens AS DOUBLE)) AS BIGINT)"
    val nllGen = "CAST(floor(CAST(-b.sum_lp_micro AS DOUBLE) / CAST(b.n_tokens AS DOUBLE)) AS BIGINT)"
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, p - 1 AS pos, ts[p] AS w,
       |         CASE WHEN p >= 2 THEN ts[p-1] END AS w1,
       |         CASE WHEN p >= 3 THEN ts[p-2] END AS w2
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents
       |        WHERE doc_id % 2 = 1),
       |       LATERAL unnest(generate_series(1, len(ts))) AS u(p)),
       |${backoffChainSql("ml_a_", "doc_id % 2 = 0 AND lang = 'en'")},
       |${backoffChainSql("ml_b_", "doc_id % 2 = 0")}
       |SELECT a.doc_id, a.n_tokens,
       |  $nllIn AS nll_in_micro,
       |  $nllGen AS nll_gen_micro,
       |  $nllIn - $nllGen AS ml_micro,
       |  CAST(CASE WHEN $nllIn - $nllGen <= 0 THEN 1 ELSE 0 END AS BIGINT) AS selected
       |FROM ml_a_base a JOIN ml_b_base b ON a.doc_id = b.doc_id""".stripMargin
  }

  /** DSIR oracle: hashed unigram+bigram buckets (md5 first word mod
    * 64 — the dedup family's keying), add-one log ratios micro-rounded
    * PER BUCKET, integer per-doc sums, rank cut at the integer order
    * statistic. Mirrors [[graft.pipeline.Select.dsir]]'s arithmetic
    * exactly: (ct+1)·(nr+B) and (cr+1)·(nt+B) are exact BIGINTs, one
    * double rounding at the division, ln 6dp-rounded before scaling.
    */
  private def dsirOracle: String =
    """WITH tsrc AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents
      |              WHERE doc_id % 2 = 0 AND lang = 'en'),
      |rsrc AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents WHERE doc_id % 2 = 0),
      |csrc AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents WHERE doc_id % 2 = 1),
      |tg AS (
      |  SELECT CAST(('0x' || substr(md5(g),1,8)) AS BIGINT) % 64 AS bucket FROM (
      |    SELECT ts[p] AS g FROM tsrc, LATERAL unnest(generate_series(1, len(ts))) AS u(p)
      |    UNION ALL
      |    SELECT ts[p-1] || ' ' || ts[p] FROM tsrc, LATERAL unnest(generate_series(2, len(ts))) AS u(p))),
      |rg AS (
      |  SELECT CAST(('0x' || substr(md5(g),1,8)) AS BIGINT) % 64 AS bucket FROM (
      |    SELECT ts[p] AS g FROM rsrc, LATERAL unnest(generate_series(1, len(ts))) AS u(p)
      |    UNION ALL
      |    SELECT ts[p-1] || ' ' || ts[p] FROM rsrc, LATERAL unnest(generate_series(2, len(ts))) AS u(p))),
      |tc AS (SELECT bucket, count(*) AS ct FROM tg GROUP BY bucket),
      |rc AS (SELECT bucket, count(*) AS cr FROM rg GROUP BY bucket),
      |tots AS (SELECT (SELECT count(*) FROM tg) AS nt, (SELECT count(*) FROM rg) AS nr),
      |dom AS (SELECT CAST(range AS BIGINT) AS bucket FROM range(64)),
      |w AS (SELECT dom.bucket,
      |        CAST(round(round(ln(CAST((coalesce(ct,0)+1) * (nr+64) AS DOUBLE) /
      |                            CAST((coalesce(cr,0)+1) * (nt+64) AS DOUBLE)), 6) * 1000000, 0) AS BIGINT) AS w_micro
      |      FROM dom LEFT JOIN tc ON dom.bucket = tc.bucket
      |               LEFT JOIN rc ON dom.bucket = rc.bucket, tots),
      |cg AS (SELECT doc_id, bucket, count(*) AS cnt FROM (
      |    SELECT doc_id, CAST(('0x' || substr(md5(g),1,8)) AS BIGINT) % 64 AS bucket FROM (
      |      SELECT doc_id, ts[p] AS g FROM csrc, LATERAL unnest(generate_series(1, len(ts))) AS u(p)
      |      UNION ALL
      |      SELECT doc_id, ts[p-1] || ' ' || ts[p] FROM csrc, LATERAL unnest(generate_series(2, len(ts))) AS u(p)))
      |    GROUP BY doc_id, bucket),
      |sc AS (SELECT doc_id, sum(cnt) AS n_grams, sum(cnt * w_micro) AS dsir_micro
      |       FROM cg JOIN w USING (bucket) GROUP BY doc_id),
      |rk AS (SELECT sc.*, CAST(row_number() OVER (ORDER BY dsir_micro DESC, doc_id) AS BIGINT) AS rnk FROM sc),
      |nn AS (SELECT count(*) AS n FROM sc)
      |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, CAST(dsir_micro AS BIGINT) AS dsir_micro, rnk,
      |  CAST(CASE WHEN rnk <= (250*n + 999)//1000 THEN 1 ELSE 0 END AS BIGINT) AS selected
      |FROM rk, nn""".stripMargin

  private object State {
    @volatile var clf: Option[graft.pipeline.Classifier.Model] = None
  }

  private def dlit(x: Double): String = s"'$x'::DOUBLE"

  /** SQL mirrors of [[graft.pipeline.Classifier.langFeatures]], in
    * the same order (lexicon ratios, then mean word length), over a
    * CTE providing `ts` (token list) and `lc` (text length).
    */
  private def clfFeatureSql: Seq[String] =
    TextOps.lexicons.map { case (_, lex) =>
      val inList = lex.map(w => s"'$w'").mkString(",")
      s"CAST(len(list_filter(ts, x -> x IN ($inList))) AS DOUBLE) / CAST(len(ts) AS DOUBLE)"
    } :+ "round((lc - (len(ts) - 1)) * 1.0 / len(ts), 4)"

  override def queries: Seq[QueryDef] = Seq(
    // ---- deterministic hash sampling (curation staple) ----
    // Reproducible across runs/engines and repartitioning (unlike
    // TABLESAMPLE); the md5-derived hash is uniform within any group,
    // so per-source rates stay ~permille without explicit strata.
    QueryDef(
      "q_sample_hash",
      "deterministic 10% hash sample of documents, counted per source",
      (s, dir) =>
        Tables(s, dir).documents
          .filter(TextOps.hashSample(col("text"), 100))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("sum_chars")),
      Some("""SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents
             |WHERE CAST(('0x' || substr(md5('0|' || text), 1, 8)) AS BIGINT) % 1000 < 100
             |GROUP BY source""".stripMargin)
    ),

    // ---- domain-mixture sampling to a token budget ----
    // The "domain reweighting" prep step: per-source acceptance
    // permilles derived from EXACT token totals (floor'd doubles —
    // identical IEEE steps both sides), then the md5 hash gate. src0
    // is deliberately over-requested (rate caps at keep-everything:
    // sampling cannot mint data), src1/src2 sample partially, the
    // other 17 sources drop. n/sum_toks/permille must all agree.
    QueryDef(
      "q_mix_sources",
      "domain-mixture sample: 3 weighted sources to a 3000-token budget",
      (s, dir) =>
        TextOps.mixSources(Tables(s, dir).documents, "source", col("text"),
            Seq("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), budgetTokens = 3000)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(size(TextOps.tokens(col("text"))).cast("long")).as("sum_toks"),
            max(col("__permille")).as("permille")),
      Some("""WITH tt AS (SELECT source,
             |        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
             |      FROM documents GROUP BY source),
             |p AS (SELECT source,
             |        least(CAST(floor('1000'::DOUBLE * 3000 * (CASE source
             |          WHEN 'src0' THEN '0.5'::DOUBLE
             |          WHEN 'src1' THEN '0.3'::DOUBLE
             |          WHEN 'src2' THEN '0.2'::DOUBLE
             |          ELSE '0'::DOUBLE END) / toks) AS INT), 1000) AS pm
             |      FROM tt),
             |sm AS (SELECT d.source, d.text, p.pm
             |      FROM documents d JOIN p ON d.source = p.source
             |      WHERE CAST(('0x' || substr(md5('0|' || d.text), 1, 8)) AS BIGINT) % 1000 < p.pm)
             |SELECT source, count(*) AS n,
             |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_toks,
             |       max(pm) AS permille
             |FROM sm GROUP BY source""".stripMargin)
    ),

    // ---- exact token-budget selection (hard-cap mixture) ----
    // The hard-cap counterpart of q_mix_sources: per source, take
    // docs in deterministic md5-hash order while the running token
    // total stays inside the budget — budgets are never exceeded
    // (the rate sampler only hits them in expectation). Running
    // totals are the two-phase perGroupPrefixSum, so one huge source
    // never lands on one task. Per-doc rows gate (id, source,
    // n_toks, cum_before) hash-exact.
    QueryDef(
      "q_mix_token_budget",
      "hard token budgets per source: hash-ordered exact prefix take",
      (s, dir) =>
        TextOps.takeToTokenBudget(Tables(s, dir).documents, "source", "doc_id",
          col("text"), Seq("src0" -> 1000L, "src1" -> 600L, "src2" -> 300L)),
      Some("""WITH t AS (SELECT doc_id, source,
             |        CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks,
             |        CAST(('0x'||substr(md5('0|'||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) AS h
             |      FROM documents),
             |c AS (SELECT doc_id, source, n_toks,
             |        CAST(sum(n_toks) OVER (PARTITION BY source ORDER BY h, doc_id
             |             ROWS UNBOUNDED PRECEDING) - n_toks AS BIGINT) AS cum_before
             |      FROM t)
             |SELECT doc_id, source, n_toks, cum_before FROM c
             |WHERE cum_before + n_toks <= (CASE source WHEN 'src0' THEN 1000
             |      WHEN 'src1' THEN 600 WHEN 'src2' THEN 300 ELSE 0 END)""".stripMargin)
    ),

    // ---- sequence packing: concat-then-split into context windows ----
    // The pre-training layout step: docs concatenate in md5-hash
    // order (+1 EOS each) and the stream cuts into 128-token windows.
    // One two-phase prefix sum — never a bin-packing solver (those
    // are sequential) and never a SinglePartition window.
    QueryDef(
      "q_text_pack_global",
      "concat-packing into 128-token context windows, hash-ordered",
      (s, dir) =>
        TextOps.packSequences(Tables(s, dir).documents, "doc_id", col("text"),
          ctxLen = 128, sepTokens = 1),
      Some("""WITH t AS (SELECT doc_id,
             |        CAST(len(string_split(text,' ')) + 1 AS BIGINT) AS n_toks,
             |        CAST(('0x'||substr(md5('0|'||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) AS h
             |      FROM documents),
             |c AS (SELECT doc_id, n_toks,
             |        CAST(sum(n_toks) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             |      FROM t)
             |SELECT doc_id, n_toks, (cum - n_toks)//128 AS bin_first,
             |       (cum - 1)//128 AS bin_last, (cum - n_toks) % 128 AS off_in_bin
             |FROM c""".stripMargin)
    ),

    // ---- α-sampling mixture: temperature-flattened source quotas ----
    // The multilingual mixture step (XLM / mT5 α-sampling, α = 0.5):
    // per-source quotas ∝ floor(sqrt(n_i)) up-weight low-resource
    // sources; quota arithmetic is pure BIGINT (integer sqrt floors,
    // order-statistic K, one bounded product), docs fill quotas in
    // md5-hash order ranked by the two-phase per-group prefix sum.
    QueryDef(
      "q_mix_alpha",
      "alpha=0.5 mixture quotas: per-source sqrt-proportional keep, hash-ordered",
      (s, dir) =>
        TextOps.alphaMixture(Tables(s, dir).documents, "source", "doc_id",
          keepPermille = 400),
      Some("""WITH n AS (SELECT source, count(*) AS nn FROM documents GROUP BY source),
             |s AS (SELECT source, nn, CAST(floor(sqrt(CAST(nn AS DOUBLE))) AS BIGINT) AS ss FROM n),
             |tot AS (SELECT CAST(sum(nn) AS BIGINT) AS N, CAST(sum(ss) AS BIGINT) AS S FROM s),
             |q AS (SELECT source, CAST(least((((400 * N + 999)//1000) * ss)//S, nn) AS BIGINT) AS quota
             |      FROM s, tot),
             |t AS (SELECT doc_id, source,
             |        CAST(('0x'||substr(md5('0|'||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) AS h
             |      FROM documents),
             |c AS (SELECT doc_id, source,
             |        CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS rnk
             |      FROM t)
             |SELECT c.doc_id, c.source, c.rnk, q.quota,
             |  CAST(CASE WHEN c.rnk <= q.quota THEN 1 ELSE 0 END AS BIGINT) AS selected
             |FROM c JOIN q USING (source)""".stripMargin)
    ),

    // ---- curation composite: quality filter -> dedup -> stats ----
    // The end-to-end shape of a training-data prep job: drop
    // too-short documents, keep the first copy of each exact text,
    // report what survives per source. One window + one aggregate.
    QueryDef(
      "q_pipeline_curate",
      "quality filter (>=5 tokens) + exact keep-first dedup + per-source stats",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("text")).orderBy(col("doc_id"))
        Tables(s, dir).documents
          .filter(size(TextOps.tokens(col("text"))) >= 5)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("sum_chars"))
      },
      Some("""WITH t AS (SELECT *, len(string_split(text, ' ')) AS n_tokens FROM documents),
             |k AS (SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
             |      FROM t WHERE n_tokens >= 5)
             |SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM k WHERE rn = 1 GROUP BY source""".stripMargin)
    ),

    // ---- count-min sketch: estimates vs truth for top tokens ----
    // The sketch is depth x width rows regardless of corpus size; on
    // this corpus the top tokens' estimates should equal (or bound)
    // the true counts, and both engines build the identical sketch
    // from the md5-seeded hash.
    QueryDef(
      "q_sketch_cms",
      "count-min estimates vs true counts for the 10 most frequent tokens",
      (s, dir) => {
        val toks = Tables(s, dir).documents
          .select(explode(TextOps.tokens(col("text"))).as("token"))
        val sk = graft.pipeline.Sketch.countMin(toks, col("token"))
        val top = toks.groupBy(col("token")).agg(count(lit(1)).as("true_n"))
          .orderBy(col("true_n").desc, col("token")).limit(10)
        val est = graft.pipeline.Sketch.estimate(sk, top.select(col("token")), col("token"))
        top.join(est, col("token") === col("item"))
          .select(col("token"), col("true_n"), col("est"))
      },
      Some("""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
             |tf AS (SELECT token, count(*) AS true_n FROM toks GROUP BY token),
             |top AS (SELECT token, true_n FROM tf ORDER BY true_n DESC, token LIMIT 10),
             |sk AS (SELECT j,
             |         CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || token), 1, 8)) AS BIGINT) % 1024 AS bucket,
             |         count(*) AS n
             |       FROM toks CROSS JOIN (VALUES (0),(1),(2),(3)) AS r(j) GROUP BY 1, 2)
             |SELECT t.token, t.true_n, min(coalesce(sk.n, 0)) AS est
             |FROM top t CROSS JOIN (VALUES (0),(1),(2),(3)) AS r(j)
             |LEFT JOIN sk ON sk.j = r.j AND sk.bucket =
             |  CAST(('0x' || substr(md5(CAST(r.j AS VARCHAR) || '|' || t.token), 1, 8)) AS BIGINT) % 1024
             |GROUP BY 1, 2""".stripMargin)
    ),

    // ---- HyperLogLog: the whole register table is the gate row set
    // (2^6 rows max regardless of corpus size) ----
    QueryDef(
      "q_sketch_hll",
      "HLL registers (b=6) over the corpus 3-gram shingle stream",
      (s, dir) => {
        // spread before the shingle explode (r16): hllRegisters pays
        // an md5 per shingle — the dedup-family CPU shape — and the
        // fused single-split scan ran it as a 1-task 1.6 s stage
        // (sweep probe). Spreading the ~4 MB of text is cheap; the
        // exploded shingle stream would not be.
        val sh = TextOps.spread(Tables(s, dir).documents, col("doc_id"))
          .select(explode(TextOps.shingles(col("text"), 3)).as("s"))
        graft.pipeline.Sketch.hllRegisters(sh, col("s"))
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |pos AS (SELECT doc_id, ts, unnest(range(1, greatest(len(ts) - 1, 2))) AS i FROM tok),
             |sh AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS s FROM pos),
             |h AS (SELECT CAST(('0x' || substr(md5('0|' || s), 1, 8)) AS BIGINT) AS hv FROM sh)
             |SELECT hv // 67108864 AS bucket,
             |       max(CAST(27 - length(ltrim(bin(hv % 67108864), '0')) AS BIGINT)) AS max_rank
             |FROM h GROUP BY 1""".stripMargin)
    ),

    // ---- HLL estimate vs exact distinct: every 2^-rank term is a
    // power of two, so the double sum is exact in any order — the
    // estimate itself is engine-deterministic and sits under the
    // value-hash gate, not just a tolerance spec ----
    QueryDef(
      "q_sketch_hll_est",
      "HLL cardinality estimate next to the exact distinct 3-gram count",
      (s, dir) => {
        val sh = Tables(s, dir).documents
          .select(explode(TextOps.shingles(col("text"), 3)).as("s"))
        val est = graft.pipeline.Sketch.hllEstimate(
          graft.pipeline.Sketch.hllRegisters(sh, col("s")))
        est.crossJoin(sh.agg(countDistinct(col("s")).as("true_distinct")))
          .select(round(col("est"), 2).as("est_distinct"), col("true_distinct"))
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |pos AS (SELECT doc_id, ts, unnest(range(1, greatest(len(ts) - 1, 2))) AS i FROM tok),
             |sh AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS s FROM pos),
             |h AS (SELECT CAST(('0x' || substr(md5('0|' || s), 1, 8)) AS BIGINT) AS hv FROM sh),
             |regs AS (SELECT hv // 67108864 AS bucket,
             |                max(27 - length(ltrim(bin(hv % 67108864), '0'))) AS max_rank
             |         FROM h GROUP BY 1),
             |agg AS (SELECT sum(power(CAST(2.0 AS DOUBLE), -max_rank)) AS z, count(*) AS nz FROM regs)
             |SELECT round(CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / 64)
             |             * 64 * 64 / (z + (64 - nz)), 2) AS est_distinct,
             |       (SELECT count(DISTINCT s) FROM sh) AS true_distinct
             |FROM agg""".stripMargin)
    ),

    // ---- PII redaction at scan speed ----
    // The corpus is synthetic, so deterministic PII is appended from
    // row values (derived from the table, not invented data): one
    // email, one IPv4, one phone per doc. Patterns live in the Java
    // regex ∩ RE2 subset so both engines redact identical spans.
    QueryDef(
      "q_text_redact",
      "PII counts + md5 of the redacted text (email/IPv4/phone placeholders)",
      (s, dir) => {
        val aug = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com from 10."), (col("doc_id") % 256).cast("string"),
          lit(".0.1 call +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
        val counts = TextOps.piiCounts(aug).map { case (n, c) => c.as(n) }
        Tables(s, dir).documents.select(
          (col("doc_id") +: counts) :+ md5(TextOps.redactPii(aug)).as("redacted_md5"): _*)
      },
      Some(s"""WITH aug AS (SELECT doc_id,
              |  text || ' contact user' || CAST(doc_id AS VARCHAR)
              |       || '@mail.example.com from 10.' || CAST(doc_id % 256 AS VARCHAR)
              |       || '.0.1 call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
              |  FROM documents)
              |SELECT doc_id,
              |  len(regexp_extract_all(t, '${TextOps.emailRe}')) AS n_emails,
              |  len(regexp_extract_all(t, '${TextOps.ipv4Re}')) AS n_ips,
              |  len(regexp_extract_all(t, '${TextOps.phoneRe}')) AS n_phones,
              |  md5(regexp_replace(regexp_replace(regexp_replace(t,
              |        '${TextOps.emailRe}', '<EMAIL>', 'g'),
              |        '${TextOps.ipv4Re}', '<IP>', 'g'),
              |        '${TextOps.phoneRe}', '<PHONE>', 'g')) AS redacted_md5
              |FROM aug""".stripMargin)
    ),

    // ---- repetition ratio (boilerplate/spam signal) ----
    QueryDef(
      "q_text_repetition",
      "3-gram repetition features: total vs distinct shingles per doc",
      (s, dir) => {
        val cols = TextOps.repetitionFeatures(col("text")).map { case (n, c) => c.as(n) }
        Tables(s, dir).documents.select(col("doc_id") +: cols: _*)
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |t AS (SELECT doc_id, greatest(len(ts) - 2, 1) AS n_shingles FROM tok),
             |pos AS (SELECT doc_id, ts, unnest(range(1, greatest(len(ts) - 1, 2))) AS i FROM tok),
             |shd AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS s FROM pos),
             |d AS (SELECT doc_id, count(*) AS n_distinct FROM shd GROUP BY doc_id)
             |SELECT t.doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
             |       CAST(n_distinct AS BIGINT) AS n_distinct,
             |       round(n_distinct * 1.0 / n_shingles, 4) AS uniq_ratio
             |FROM t JOIN d USING (doc_id)""".stripMargin)
    ),

    // ---- context-window chunking with overlap ----
    QueryDef(
      "q_text_chunks",
      "50-token chunks with 10-token overlap, fingerprinted",
      (s, dir) =>
        TextOps.chunk(Tables(s, dir).documents, "doc_id", col("text"), 50, 10),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |n AS (SELECT doc_id, ts,
             |        CAST(ceil(greatest(len(ts) - 50, 0) / 40.0) AS BIGINT) + 1 AS nc FROM t),
             |x AS (SELECT doc_id, ts, unnest(range(0, nc)) AS chunk_idx FROM n)
             |SELECT doc_id, chunk_idx,
             |  least(50, len(ts) - chunk_idx * 40) AS n_in_chunk,
             |  md5(array_to_string(ts[chunk_idx * 40 + 1 : chunk_idx * 40 + 50], ' ')) AS chunk_md5
             |FROM x""".stripMargin)
    ),

    // ---- sequence packing into fixed token-capacity bins ----
    QueryDef(
      "q_text_pack",
      "pack docs into 256-token bins per source by running total",
      (s, dir) =>
        TextOps.pack(Tables(s, dir).documents, "doc_id", "source", col("text"), 256),
      Some("""WITH t AS (SELECT source, doc_id,
             |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
             |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             |        ROWS UNBOUNDED PRECEDING) AS cum FROM t)
             |SELECT source, doc_id, n_tokens,
             |  CAST((cum - n_tokens) // 256 AS BIGINT) AS bin,
             |  CAST((cum - n_tokens) % 256 AS BIGINT) AS offset
             |FROM c""".stripMargin)
    ),

    // ---- unigram LM quality score ----
    // per-token log-probs become exact BIGINT micros BEFORE the
    // per-doc sum: integer aggregation is order-independent where a
    // double ln() sum would flake with partitioning
    QueryDef(
      "q_text_unigram_lp",
      "average unigram log-probability per doc under the corpus distribution",
      (s, dir) =>
        TextOps.unigramLogProb(Tables(s, dir).documents, "doc_id", col("text")),
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
             |tf AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
             |tot AS (SELECT sum(cnt) AS tot FROM tf),
             |lp AS (SELECT token,
             |         CAST(round(round(ln(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)), 6) * 1000000, 0) AS BIGINT) AS lp_micro
             |       FROM tf, tot)
             |SELECT doc_id, count(*) AS n_tokens,
             |  CAST(sum(lp_micro) AS BIGINT) AS sum_lp_micro
             |FROM toks JOIN lp USING (token)
             |GROUP BY doc_id""".stripMargin)
    ),

    // ---- trigram stupid-backoff LM score, held out ----
    // The distributed n-gram LM (Brants et al. EMNLP'07) as a quality
    // filter in its production shape: an LM trained on the clean half
    // (even doc_ids) scores the candidate half (odd doc_ids), so every
    // backoff arm — seen trigram, bigram fallback, unigram double-
    // fallback, OOV zerogram — fires and is oracle-covered. Three
    // map-side-combinable count tables, zero-shuffle gram extraction
    // (context words are element_at lookups on the in-row token
    // array), five lookup joins, exact micro-nat sums. The oracle
    // mirrors every IEEE-double step of the backoff CASE.
    QueryDef(
      "q_text_lm_backoff",
      "held-out trigram stupid-backoff log-prob: even-doc LM scores odd docs",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        TextOps.stupidBackoffLogProb(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "doc_id", col("text"))
      },
      Some(lmBackoffOracle)
    ),

    // ---- incremental LM: published counts + O(batch) appends ----
    // Counts are additive, so the published index (docs % 4 = 0) plus
    // an appended batch (docs % 4 = 2) must score the odd half
    // BIT-IDENTICALLY to a full retrain on all even docs — the oracle
    // is q_text_lm_backoff's even-trained SQL verbatim. The LM joins
    // the exact-append family (dedup, MinHash, embeddings, ANN tiers,
    // lex index): no published row rewrites, read-time segment merge.
    QueryDef(
      "q_text_lm_incremental",
      "stupid-backoff scores via published+appended n-gram counts == full retrain",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val path = SessionPublish.once(s, s"lmindex|$dir") {
          val p = SessionPublish.tempDir("graft-lmindex")
          graft.pipeline.LmIndex.publish(
            docs.filter(col("doc_id") % 4 === 0), "doc_id", col("text"), p)
          graft.pipeline.LmIndex.append(
            docs.filter(col("doc_id") % 4 === 2), "doc_id", col("text"), p)
          p
        }
        graft.pipeline.LmIndex.score(s, path,
          docs.filter(col("doc_id") % 2 === 1), "doc_id", col("text"))
      },
      Some(lmBackoffOracle)
    ),

    // ---- compacted LM counts: segments sum-merged once ----
    // publish(doc%4=0) + append(doc%4=2) + versioned compaction; the
    // compacted store must score bit-identically, so the oracle is
    // again the even-trained backoff SQL verbatim.
    QueryDef(
      "q_text_lm_compacted",
      "stupid-backoff scores via the compacted n-gram store == full retrain",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val root = SessionPublish.once(s, s"lmindex-compact|$dir") {
          val r = SessionPublish.tempDir("graft-lmindex-compact")
          graft.core.Versions.publish(r) { v1 =>
            graft.pipeline.LmIndex.publish(
              docs.filter(col("doc_id") % 4 === 0), "doc_id", col("text"), v1)
            graft.pipeline.LmIndex.append(
              docs.filter(col("doc_id") % 4 === 2), "doc_id", col("text"), v1)
          }
          graft.pipeline.LmIndex.compactVersioned(s, r): Unit
          r
        }
        graft.pipeline.LmIndex.score(s, graft.core.Versions.currentPath(root).get,
          docs.filter(col("doc_id") % 2 === 1), "doc_id", col("text"))
      },
      Some(lmBackoffOracle)
    ),

    // ---- LM count-store takedown: negated-count append ----
    // publish(doc%2=0) then delete(doc%4=0): the tombstoned docs'
    // counts append NEGATED, segment sums cancel exactly (exact
    // longs), and the read-side >0 filter drops fully-removed grams —
    // so scoring the odd half must be BIT-IDENTICAL to an LM trained
    // only on the survivors (doc%4=2). The oracle is the backoff
    // chain retrained from scratch on that reduced slice.
    QueryDef(
      "q_text_lm_delete",
      "stupid-backoff scores after count-store takedown == retrain without removed docs",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val path = SessionPublish.once(s, s"lmindex-delete|$dir") {
          val p = SessionPublish.tempDir("graft-lmindex-delete")
          graft.pipeline.LmIndex.publish(
            docs.filter(col("doc_id") % 2 === 0), "doc_id", col("text"), p)
          graft.pipeline.LmIndex.delete(
            docs.filter(col("doc_id") % 4 === 0), "doc_id", col("text"), p)
          p
        }
        graft.pipeline.LmIndex.score(s, path,
          docs.filter(col("doc_id") % 2 === 1), "doc_id", col("text"))
      },
      Some(s"""WITH toks AS MATERIALIZED (
           |  SELECT doc_id, p - 1 AS pos, ts[p] AS w,
           |         CASE WHEN p >= 2 THEN ts[p-1] END AS w1,
           |         CASE WHEN p >= 3 THEN ts[p-2] END AS w2
           |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents
           |        WHERE doc_id % 2 = 1),
           |       LATERAL unnest(generate_series(1, len(ts))) AS u(p)),
           |${backoffChainSql("del_", "doc_id % 4 = 2")}
           |SELECT doc_id, n_tokens, sum_lp_micro FROM del_base""".stripMargin)
    ),

    // ---- CCNet perplexity filter: head / middle / tail buckets ----
    // The step after LM scoring in the CCNet pipeline (Wenzek et al.
    // LREC'20): rank candidate docs by per-token NLL under the
    // clean-corpus LM and keep buckets by distribution position —
    // head (lowest perplexity) feeds training as-is, middle is
    // sampled, tail is dropped. Cutoffs are the exact 300/700
    // permille ORDER STATISTICS (integer rank arithmetic — see
    // TextOps.perplexityFilter's off-by-one note on ceil(0.3·N));
    // ranking is the two-phase range-partitioned globalRank, never a
    // SinglePartition window; only the two cutoff values broadcast
    // back. Value-threshold bucketing makes cutoff ties route
    // identically in both engines.
    QueryDef(
      "q_text_perplexity_filter",
      "CCNet head/middle/tail perplexity buckets: even-doc LM filters odd docs",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        TextOps.perplexityFilter(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "doc_id", col("text"))
      },
      Some(s"""WITH base AS ($lmBackoffOracle),
           |per AS (SELECT doc_id, n_tokens,
           |  CAST(floor(CAST(-sum_lp_micro AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS BIGINT) AS nll
           |  FROM base),
           |ranked AS (SELECT per.*, row_number() OVER (ORDER BY nll, doc_id) AS r FROM per),
           |nn AS (SELECT count(*) AS n FROM per),
           |cuts AS (SELECT
           |   max(CASE WHEN r = (300*n + 999)//1000 THEN nll END) AS c_head,
           |   max(CASE WHEN r = (700*n + 999)//1000 THEN nll END) AS c_mid
           | FROM ranked, nn)
           |SELECT doc_id, n_tokens, nll AS nll_micro_per_tok,
           |  CASE WHEN nll <= c_head THEN 'head'
           |       WHEN nll <= c_mid THEN 'middle'
           |       ELSE 'tail' END AS bucket
           |FROM per, cuts""".stripMargin)
    ),

    // ---- Moore-Lewis cross-entropy difference selection ----
    // The classic in-domain data selector (Moore & Lewis, ACL'10):
    // score candidates under an in-domain LM (even 'en' docs) and a
    // general LM (all even docs); keep docs the in-domain model
    // assigns LOWER per-token NLL. Both NLLs are the backoff family's
    // micro-nat integers and the per-token reduction is the CCNet
    // filter's floor expression, so the difference — and therefore
    // the selection itself — is pure BIGINT arithmetic cross-engine.
    QueryDef(
      "q_select_moore_lewis",
      "Moore-Lewis selection: NLL(in-domain LM) - NLL(general LM) per token, keep <= 0",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        graft.pipeline.Select.mooreLewis(
          docs.filter(col("doc_id") % 2 === 0 && col("lang") === "en"),
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "doc_id", col("text"))
      },
      Some(mooreLewisOracle)
    ),

    // ---- DSIR: importance resampling by hashed n-gram buckets ----
    // Data Selection via Importance Resampling (Xie et al.,
    // NeurIPS'23): unigram+bigram features hash into 64 buckets (the
    // md5 keying of the dedup family); per-bucket add-one-smoothed
    // log target/raw ratios round to micro-nats PER BUCKET, so each
    // candidate's score is a pure integer dot product of its bucket
    // counts with a 64-row broadcast weight table. Selection = global
    // top-250-permille by (score desc, id) through the two-phase
    // rank, cut at the integer order statistic.
    QueryDef(
      "q_select_dsir",
      "DSIR importance scores over hashed n-gram buckets; top-250-permille selected",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        graft.pipeline.Select.dsir(
          docs.filter(col("doc_id") % 2 === 0 && col("lang") === "en"),
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "doc_id", col("text"),
          buckets = 64, keepPermille = 250)
      },
      Some(dsirOracle)
    ),

    // ---- trained quality classifier (logistic regression) ----
    // The model-based filtering step in its distillation shape (CCNet
    // trains fasttext against Wikipedia labels; LLM-judge pipelines
    // distill the judge into a cheap model): distributed IRLS
    // (Newton) distills the nonlinear langId heuristic
    // (argmax-of-lexicons) into a linear model over the ratio
    // features, then scores every doc as ONE arithmetic expression.
    // The gate scores the LINEAR z (monotone in the sigmoid) so the
    // oracle is exact left-to-right double arithmetic over the
    // weights the run itself trained — no cross-engine exp() ulp
    // hazard. (The corpus' `lang` column is label noise by
    // construction — uncorrelated with the text — so the heuristic's
    // own output is the only learnable target; ClassifierSpec pins
    // both facts.)
    QueryDef(
      "q_quality_classifier",
      "distilled langId classifier: exact micro-int linear scores per doc",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val feats = graft.pipeline.Classifier.langFeatures(col("text"))
        val model = graft.pipeline.Classifier.trainLogistic(
          docs, "doc_id", feats, TextOps.langId(col("text")) === "en")
        State.clf = Some(model)
        val z = graft.pipeline.Classifier.score(feats, model)
        docs.select(col("doc_id"),
          round(round(z, 6) * 1000000, 0).cast("long").as("score_micro"),
          when(z > 0, 1L).otherwise(0L).as("pred_en"))
      },
      Oracle.deferred {
        val m = State.clf.getOrElse(throw new IllegalStateException(
          "classifier not recorded — run q_quality_classifier before its oracle"))
        val z = clfFeatureSql.zipWithIndex.foldLeft(dlit(m.bias)) {
          case (acc, (f, j)) =>
            s"$acc + ${dlit(m.weights(j))} * (($f - ${dlit(m.mean(j))}) / ${dlit(m.std(j))})"
        }
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts, length(text) AS lc
           |           FROM documents),
           |sc AS (SELECT doc_id, ($z) AS z FROM t)
           |SELECT doc_id,
           |  CAST(round(round(z, 6) * 1000000, 0) AS BIGINT) AS score_micro,
           |  CAST(CASE WHEN z > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred_en
           |FROM sc""".stripMargin
      }
    ),

    // ---- deterministic corpus shuffle: exact global rank ----
    // Training-order assignment (order by md5 = reproducible shuffle)
    // through the two-phase rank: range partition + per-partition
    // windows + driver-summed offsets — no SinglePartition exchange
    // anywhere (ShuffleRankSpec pins the plan), where the naive
    // row_number() OVER (ORDER BY ...) drags the corpus through one
    // task. The oracle IS the naive form — DuckDB can afford it.
    QueryDef(
      "q_shuffle_rank",
      "deterministic shuffle order: global rank by (md5(text), doc_id), two-phase",
      (s, dir) =>
        graft.operators.Skew.globalRank(
          Tables(s, dir).documents.select(col("doc_id"), md5(col("text")).as("h")),
          Seq(col("h"), col("doc_id")), "rnk")
          .select(col("doc_id"), col("rnk")),
      Some("""SELECT doc_id,
             |  CAST(row_number() OVER (ORDER BY md5(text), doc_id) AS BIGINT) AS rnk
             |FROM documents""".stripMargin)
    ),

    // ---- TF-IDF: top-3 characteristic terms per document ----
    // Smoothed tfidf = tf * ln((N+1)/(df+1)); deterministic top-3 via
    // (score desc, token asc). Two aggregates + one token join — the
    // join key is hash-uniform text, so no skew at corpus scale.
    QueryDef(
      "q_text_tfidf",
      "top-3 TF-IDF terms per document over the corpus",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val n = d.count() // corpus size: one tiny driver-side action
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("token"))
        TextOps.tfidf(d, "doc_id", col("text"), n)
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("token"), col("tf"), col("df"), col("tfidf"),
            col("rnk").cast("long").as("rnk"))
      },
      Some("""WITH N AS (SELECT count(*) AS n FROM documents),
             |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
             |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
             |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
             |scored AS (SELECT doc_id, tf.token AS token, tf, df,
             |                  round(tf * ln((n + 1.0) / (df + 1.0)), 6) AS tfidf
             |           FROM tf JOIN df ON tf.token = df.token, N),
             |ranked AS (SELECT *, row_number() OVER
             |             (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rnk
             |           FROM scored)
             |SELECT doc_id, token, tf, df, tfidf, CAST(rnk AS BIGINT) AS rnk
             |FROM ranked WHERE rnk <= 3""".stripMargin)
    ),

    // ---- token counting ----
    QueryDef(
      "q_text_tokens",
      "token and character counts per document",
      (s, dir) =>
        Tables(s, dir).documents.select(
          col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars_text")),
      Some("""SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
             |length(text) AS n_chars_text FROM documents""".stripMargin)
    ),

    // ---- BPE-style token counting (training-cost budgeting) ----
    QueryDef(
      "q_text_bpe_tokens",
      "GPT-2-style pre-tokenizer match count vs whitespace tokens per doc",
      (s, dir) =>
        Tables(s, dir).documents.select(
          col("doc_id"),
          TextOps.bpeTokenCount(col("text")).as("n_bpe_tokens"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_ws_tokens")),
      Some(s"""SELECT doc_id,
              |  len(regexp_extract_all(text, '${TextOps.bpeTokenRe}')) AS n_bpe_tokens,
              |  len(string_split(text, ' ')) AS n_ws_tokens
              |FROM documents""".stripMargin)
    ),

    // ---- stratified exact-k sampling ----
    // hashSample gives rate-based sampling; this gives exactly k per
    // stratum: deterministic hash ordering inside each source + a
    // window limit — reproducible across runs, engines and
    // repartitioning, one shuffle on the stratum key.
    QueryDef(
      "q_sample_stratified",
      "exactly 20 docs per source by deterministic hash order",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(TextOps.hash32(0, col("text")), col("doc_id"))
        Tables(s, dir).documents
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 20)
          .select(col("source"), col("doc_id"), col("rn").cast("long").as("rn"))
      },
      Some("""SELECT source, doc_id, CAST(rn AS BIGINT) AS rn FROM (
             |  SELECT source, doc_id, row_number() OVER (PARTITION BY source
             |    ORDER BY CAST(('0x' || substr(md5('0|' || text), 1, 8)) AS BIGINT), doc_id) AS rn
             |  FROM documents) WHERE rn <= 20""".stripMargin)
    ),

    // ---- repetition COVERAGE (Gopher rules, position-set union) ----
    // Fraction of token positions covered by the top n-gram / by any
    // duplicated n-gram, n = 2 and 3. Coverage dedups overlapping
    // occurrences, so the n=2 features are dense on this corpus
    // ("batch batch batch" runs) while n=3's dup leg exercises the
    // zero/coalesce path on most docs.
    QueryDef(
      "q_quality_gopher",
      "Gopher repetition-coverage: top/dup n-gram token coverage for n=2,3",
      (s, dir) => {
        val d = Tables(s, dir).documents
        TextOps.ngramCoverage(d, "doc_id", col("text"), 2)
          .join(TextOps.ngramCoverage(d, "doc_id", col("text"), 3)
            .drop("n_tokens"), Seq("doc_id"))
      },
      Some {
        def block(n: Int): String =
          s"""g$n AS (SELECT doc_id, i, array_to_string(ts[i:i+${n - 1}], ' ') AS gram
             |        FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - $n + 2)) AS i FROM tok)),
             |gc$n AS (SELECT doc_id, gram, count(*) AS cnt FROM g$n GROUP BY 1, 2),
             |top$n AS (SELECT doc_id, gram FROM (
             |          SELECT doc_id, gram, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
             |          FROM gc$n) WHERE rn = 1),
             |tcov$n AS (SELECT g.doc_id, count(DISTINCT g.i + u.o) AS cov
             |           FROM g$n g JOIN top$n t ON t.doc_id = g.doc_id AND t.gram = g.gram,
             |                LATERAL unnest(range(0, $n)) AS u(o) GROUP BY g.doc_id),
             |dcov$n AS (SELECT g.doc_id, count(DISTINCT g.i + u.o) AS cov
             |           FROM g$n g JOIN gc$n d ON d.doc_id = g.doc_id AND d.gram = g.gram AND d.cnt >= 2,
             |                LATERAL unnest(range(0, $n)) AS u(o) GROUP BY g.doc_id),
             |r$n AS (SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
             |          round(CAST(COALESCE(tc.cov, 0) AS DOUBLE) / len(t.ts), 6) AS top${n}_frac,
             |          round(CAST(COALESCE(dc.cov, 0) AS DOUBLE) / len(t.ts), 6) AS dup${n}_frac
             |        FROM tok t LEFT JOIN tcov$n tc ON tc.doc_id = t.doc_id
             |                   LEFT JOIN dcov$n dc ON dc.doc_id = t.doc_id)""".stripMargin
        s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
           |${block(2)},
           |${block(3)}
           |SELECT r2.doc_id, r2.n_tokens, r2.top2_frac, r2.dup2_frac,
           |       r3.top3_frac, r3.dup3_frac
           |FROM r2 JOIN r3 USING (doc_id)""".stripMargin
      }
    ),

    // ---- quality features ----
    QueryDef(
      "q_text_quality",
      "quality features: token stats, stopword ratio, mean word length",
      (s, dir) => {
        val cols = TextOps.qualityFeatures(col("text")).map { case (n, c) => c.as(n) }
        Tables(s, dir).documents.select(col("doc_id") +: cols: _*)
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts, length(text) AS lc FROM documents)
             |SELECT doc_id,
             |  len(ts) AS n_tokens,
             |  lc - (len(ts) - 1) AS n_chars_tok,
             |  len(list_filter(ts, x -> x IN ('the','a','of','and','to','in'))) AS n_stopwords,
             |  round((lc - (len(ts) - 1)) * 1.0 / len(ts), 4) AS mean_word_len,
             |  round(len(list_filter(ts, x -> x IN ('the','a','of','and','to','in'))) * 1.0 / len(ts), 4) AS stopword_ratio
             |FROM t""".stripMargin)
    ),

    // ---- language-ID scoring ----
    QueryDef(
      "q_text_langid",
      "stopword-lexicon language ID vs the labeled lang column",
      (s, dir) =>
        Tables(s, dir).documents
          .select(col("lang"), TextOps.langId(col("text")).as("pred"))
          .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n")),
      Some({
        val scores = TextOps.lexicons.map { case (lang, lex) =>
          val inList = lex.map(w => s"'$w'").mkString(",")
          s"len(list_filter(ts, x -> x IN ($inList))) AS s_$lang"
        }.mkString(", ")
        val bestExpr = TextOps.lexicons.map(l => s"s_${l._1}").mkString("greatest(", ", ", ")")
        // ties: first lexicon in TextOps.lexicons order wins
        val pick = TextOps.lexicons.reverse.foldLeft("'und'") { case (acc, (lang, _)) =>
          s"CASE WHEN s_$lang = best AND best > 0 THEN '$lang' ELSE $acc END"
        }
        s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents),
           |sc AS (SELECT doc_id, lang, $scores FROM t),
           |sb AS (SELECT *, $bestExpr AS best FROM sc)
           |SELECT lang, $pick AS pred, count(*) AS n FROM sb GROUP BY 1, 2""".stripMargin
      })
    ),

    // ---- corpus n-gram frequency (vocabulary analysis) ----
    QueryDef(
      "q_text_bigrams",
      "top-20 word bigrams corpus-wide, deterministic tie-break",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        docs.select(explode(TextOps.shingles(col("text"), 2)).as("bigram"))
          .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("bigram").asc)
          .limit(20)
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |pos AS (SELECT doc_id, ts, unnest(range(1, greatest(len(ts), 2))) AS i FROM tok),
             |bg AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+1], ' ') AS bigram FROM pos)
             |SELECT bigram, count(*) AS n FROM bg GROUP BY bigram
             |ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin)
    ),

    // ---- winnowing fingerprints (MOSS) ----
    // Positioned k-gram hashes, window-minimum selection: any shared
    // run of >= w+k-1 tokens yields a shared fingerprint at ~2/(w+1)
    // density — the partial-overlap detector bag-of-words hashes
    // miss. Ties route identically via the md5||pos sortable key.
    QueryDef(
      "q_text_winnow",
      "winnowing fingerprints: 3-gram hashes, window-of-4 minima",
      (s, dir) =>
        TextOps.winnow(Tables(s, dir).documents, "doc_id", col("text"), k = 3, w = 4),
      Some(s"""WITH $winnowCtes
              |SELECT doc_id, pos, fp FROM wf""".stripMargin)
    ),

    // ---- winnowing index lifecycle: the O(batch) overlap leg ----
    // The (fp, doc, pos) fingerprint table IS the publishable index
    // (winnowing is per-doc pure, so batch fingerprints are the
    // incremental append and appended == republish bit-for-bit —
    // WinnowIndexSpec pins it). This gate drives the MOSS read path:
    // a batch fingerprinted O(batch) and joined against the published
    // corpus index — shared-fingerprint pairs with position evidence,
    // over-common fingerprints df-capped at match time so the index
    // stays additive. Oracle = the full-corpus winnow mine restricted
    // to batch-vs-corpus pairs.
    QueryDef(
      "q_text_winnow_incremental",
      "doc_id%7=3 batch vs the published winnow index: shared-fp pairs with positions",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val corpus = docs.filter(col("doc_id") % 7 =!= 3)
        val batch = docs.filter(col("doc_id") % 7 === 3)
        val idxPath = SessionPublish.once(s, "winnow_idx|" + dir) {
          val p = SessionPublish.tempDir("graft-winnow") + "/index"
          TextOps.winnow(corpus, "doc_id", col("text"), k = 3, w = 4)
            .write.mode("overwrite").parquet(p)
          p
        }
        TextOps.winnowMatches(s.read.parquet(idxPath), batch, "doc_id", col("text"),
          k = 3, w = 4, minShared = 2, maxDf = 1000)
      },
      Some(s"""WITH $winnowCtes,
              |cdf AS (SELECT fp FROM wf WHERE doc_id % 7 <> 3
              |        GROUP BY fp HAVING count(DISTINCT doc_id) <= 1000),
              |c AS (SELECT w.fp, w.doc_id AS corpus_id, w.pos AS cpos
              |      FROM wf w JOIN cdf USING (fp) WHERE w.doc_id % 7 <> 3),
              |b AS (SELECT fp, doc_id AS batch_id, pos AS bpos FROM wf WHERE doc_id % 7 = 3)
              |SELECT b.batch_id, c.corpus_id, CAST(count(DISTINCT b.fp) AS BIGINT) AS n_shared,
              |       min(b.bpos) AS batch_pos, min(c.cpos) AS corpus_pos
              |FROM b JOIN c ON b.fp = c.fp
              |GROUP BY 1, 2 HAVING count(DISTINCT b.fp) >= 2""".stripMargin)
    ),

    // ---- corpus-wide winnow overlap pairs (MOSS mining) ----
    // Every document pair sharing >= 2 winnow fingerprints, with
    // position evidence and the df cap — the one-index form of the
    // batch gate above; the join is keyed by md5-uniform fingerprints
    // and bounded by per-fp document lists, never all-pairs.
    QueryDef(
      "q_text_winnow_overlap",
      "document pairs sharing >= 2 winnow fingerprints (df-capped, positioned)",
      (s, dir) =>
        TextOps.winnowOverlapPairs(
          TextOps.winnow(Tables(s, dir).documents, "doc_id", col("text"), k = 3, w = 4),
          "doc_id", minShared = 2, maxDf = 1000),
      Some(s"""WITH $winnowCtes,
              |cdf AS (SELECT fp FROM wf GROUP BY fp HAVING count(DISTINCT doc_id) <= 1000),
              |p AS (SELECT w.fp, w.doc_id, w.pos FROM wf w JOIN cdf USING (fp))
              |SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(DISTINCT a.fp) AS BIGINT) AS n_shared,
              |  min(a.pos) AS a_pos, min(b.pos) AS b_pos
              |FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
              |GROUP BY 1, 2 HAVING count(DISTINCT a.fp) >= 2""".stripMargin)
    ),

    // ---- winnow index takedown (the lifecycle's delete leg) ----
    // Tombstone doc_id%11=5 out of the published index and mine
    // overlap pairs over the survivors. Per-doc purity makes the
    // anti-join exactly a republish without those docs, and the df
    // cap RECOMPUTES over survivors — a fingerprint suppressed by
    // since-removed boilerplate copies must resurface. Oracle = the
    // from-scratch mine of the reduced corpus, so both properties are
    // hash-gated, not asserted.
    QueryDef(
      "q_text_winnow_delete",
      "takedown: overlap pairs over the winnow index minus doc_id%11=5",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val idxPath = SessionPublish.once(s, "winnow_full_idx|" + dir) {
          val p = SessionPublish.tempDir("graft-winnow-full") + "/index"
          TextOps.winnow(docs, "doc_id", col("text"), k = 3, w = 4)
            .write.mode("overwrite").parquet(p)
          p
        }
        val pruned = Tombstones.without(s.read.parquet(idxPath), "doc_id",
          docs.filter(col("doc_id") % 11 === 5), "doc_id")
        TextOps.winnowOverlapPairs(pruned, "doc_id", minShared = 2, maxDf = 1000)
      },
      Some(s"""WITH $winnowCtes,
              |sv AS (SELECT * FROM wf WHERE doc_id % 11 <> 5),
              |cdf AS (SELECT fp FROM sv GROUP BY fp HAVING count(DISTINCT doc_id) <= 1000),
              |p AS (SELECT w.fp, w.doc_id, w.pos FROM sv w JOIN cdf USING (fp))
              |SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(DISTINCT a.fp) AS BIGINT) AS n_shared,
              |  min(a.pos) AS a_pos, min(b.pos) AS b_pos
              |FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
              |GROUP BY 1, 2 HAVING count(DISTINCT a.fp) >= 2""".stripMargin)
    ),

    // ---- winnow STORE lifecycle: tombstone-marker delete ----
    // The store-tier upgrade of q_text_winnow_delete: the takedown is
    // ONE hidden marker batch (Tombstones.delete, O(batch)) instead of
    // an anti-join + O(index) republish, and the mine goes through the
    // marker-bearing live view. The df cap is a QUERY-TIME aggregate
    // over whatever view feeds the mine, so the marker view preserves
    // the republish-without semantics exactly — caps recompute over
    // survivors, suppressed fingerprints resurface. Oracle = the
    // from-scratch mine of the reduced corpus, same as the plan-level
    // gate (different victim set).
    QueryDef(
      "q_text_winnow_store_delete",
      "overlap pairs via the winnow store after a doc_id%11=7 marker takedown",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val path = SessionPublish.once(s, "winnow_store_del|" + dir) {
          val p = SessionPublish.tempDir("graft-winnow-store-del") + "/index"
          TextOps.winnow(docs, "doc_id", col("text"), k = 3, w = 4)
            .write.mode("overwrite").parquet(p)
          Tombstones.delete(p,
            docs.filter(col("doc_id") % 11 === 7).select(col("doc_id")), "doc_id")
          p
        }
        TextOps.winnowOverlapPairs(Tombstones.live(s, path, "doc_id"),
          "doc_id", minShared = 2, maxDf = 1000)
      },
      Some(s"""WITH $winnowCtes,
              |sv AS (SELECT * FROM wf WHERE doc_id % 11 <> 7),
              |cdf AS (SELECT fp FROM sv GROUP BY fp HAVING count(DISTINCT doc_id) <= 1000),
              |p AS (SELECT w.fp, w.doc_id, w.pos FROM sv w JOIN cdf USING (fp))
              |SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(DISTINCT a.fp) AS BIGINT) AS n_shared,
              |  min(a.pos) AS a_pos, min(b.pos) AS b_pos
              |FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
              |GROUP BY 1, 2 HAVING count(DISTINCT a.fp) >= 2""".stripMargin)
    ),

    // ---- winnow STORE lifecycle: versioned compaction ----
    // delete (markers) -> Tombstones.compactVersioned (atomic pointer
    // flip; post-flip tombstone recheck) -> mine through the
    // compacted live view, which is a bare scan again (markers and
    // rows purged together). Must equal the survivor re-mine.
    QueryDef(
      "q_text_winnow_store_compact",
      "overlap pairs via marker delete + versioned winnow-store compact",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val root = SessionPublish.once(s, "winnow_store_compact|" + dir) {
          val r = SessionPublish.tempDir("graft-winnow-store-compact") + "/index"
          graft.core.Versions.publish(r) { v1 =>
            TextOps.winnow(docs, "doc_id", col("text"), k = 3, w = 4)
              .write.mode("overwrite").parquet(v1)
          }
          Tombstones.delete(graft.core.Versions.currentPath(r).get,
            docs.filter(col("doc_id") % 11 === 3).select(col("doc_id")), "doc_id")
          Tombstones.compactVersioned(s, r)(Tombstones.compact(s, _, _, "doc_id")): Unit
          r
        }
        TextOps.winnowOverlapPairs(
          Tombstones.live(s, graft.core.Versions.currentPath(root).get, "doc_id"),
          "doc_id", minShared = 2, maxDf = 1000)
      },
      Some(s"""WITH $winnowCtes,
              |sv AS (SELECT * FROM wf WHERE doc_id % 11 <> 3),
              |cdf AS (SELECT fp FROM sv GROUP BY fp HAVING count(DISTINCT doc_id) <= 1000),
              |p AS (SELECT w.fp, w.doc_id, w.pos FROM sv w JOIN cdf USING (fp))
              |SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(DISTINCT a.fp) AS BIGINT) AS n_shared,
              |  min(a.pos) AS a_pos, min(b.pos) AS b_pos
              |FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
              |GROUP BY 1, 2 HAVING count(DISTINCT a.fp) >= 2""".stripMargin)
    ),

    // ---- STREAMING winnow ingestion: base publish + 2 streamed
    // micro-batches under the staged-marker exactly-once protocol.
    // Winnowing is per-doc pure, so the streamed index must equal the
    // one-shot full-corpus index, and mining over it must equal the
    // one-shot overlap mine — the SAME SQL as q_text_winnow_overlap,
    // now also proving no fingerprint row was lost or double-landed
    // across the publish/stage/promote machinery (q_dedup_stream's
    // design, winnow edition) ----
    QueryDef(
      "q_text_winnow_stream",
      "overlap pairs off the streamed winnow store (base + 2 micro-batches) == one-shot mine",
      (s, dir) => {
        val root = SessionPublish.once(s, "winnow_stream|" + dir) {
          val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
          val base = docs.filter(col("doc_id") % 7 =!= 3)
          val b1 = docs.filter(col("doc_id") % 7 === 3 && col("doc_id") % 2 === 0)
          val b2 = docs.filter(col("doc_id") % 7 === 3 && col("doc_id") % 2 =!= 0)
          val p = graft.streaming.WinnowStream.Params(k = 3, w = 4)
          val r = SessionPublish.tempDir("graft-winnow-stream") + "/store"
          graft.streaming.WinnowStream.publish(base, "doc_id", col("text"), p, r)
          val srcDir = SessionPublish.tempDir("graft-winnow-stream-src")
          val ckpt = SessionPublish.tempDir("graft-winnow-stream-ckpt")
          b1.coalesce(1).write.mode("append").parquet(srcDir)
          b2.coalesce(1).write.mode("append").parquet(srcDir)
          graft.streaming.WinnowStream.ingestDocuments(s, srcDir, docs.schema,
            "doc_id", "text", p, r, ckpt, maxFilesPerTrigger = Some(1))
            .awaitTermination()
          r
        }
        TextOps.winnowOverlapPairs(
          graft.streaming.WinnowStream.live(s, root).withColumnRenamed("id", "doc_id"),
          "doc_id", minShared = 2, maxDf = 1000)
      },
      Some(s"""WITH $winnowCtes,
              |cdf AS (SELECT fp FROM wf GROUP BY fp HAVING count(DISTINCT doc_id) <= 1000),
              |p AS (SELECT w.fp, w.doc_id, w.pos FROM wf w JOIN cdf USING (fp))
              |SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(DISTINCT a.fp) AS BIGINT) AS n_shared,
              |  min(a.pos) AS a_pos, min(b.pos) AS b_pos
              |FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
              |GROUP BY 1, 2 HAVING count(DISTINCT a.fp) >= 2""".stripMargin)
    ),

    // ---- winnow overlap under the CORPUS-RELATIVE df cap ----
    // The production form of the boilerplate guard: the cap is 10‰ of
    // the index's distinct documents (floor 1) instead of an absolute
    // row count whose meaning drifts 3 orders of magnitude between
    // probe and production corpora. The doc count rides in as a 1-row
    // broadcast; the oracle derives the same cap from the same index.
    QueryDef(
      "q_text_winnow_overlap_permille",
      "winnow overlap pairs with the df cap at 10 permille of corpus docs",
      (s, dir) =>
        TextOps.winnowOverlapPairs(
          TextOps.winnow(Tables(s, dir).documents, "doc_id", col("text"), k = 3, w = 4),
          "doc_id", minShared = 2, maxDfPermille = Some(10)),
      Some(s"""WITH $winnowCtes,
              |nd AS (SELECT count(DISTINCT doc_id) AS n FROM wf),
              |cdf AS (SELECT fp FROM wf CROSS JOIN nd GROUP BY fp, nd.n
              |        HAVING count(DISTINCT doc_id) <= greatest(CAST(floor(nd.n * 10.0 / 1000) AS BIGINT), 1)),
              |p AS (SELECT w.fp, w.doc_id, w.pos FROM wf w JOIN cdf USING (fp))
              |SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(DISTINCT a.fp) AS BIGINT) AS n_shared,
              |  min(a.pos) AS a_pos, min(b.pos) AS b_pos
              |FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
              |GROUP BY 1, 2 HAVING count(DISTINCT a.fp) >= 2""".stripMargin)
    ),

    // ---- document fingerprinting ----
    QueryDef(
      "q_text_fingerprint",
      "bag-of-words md5 fingerprint per document",
      (s, dir) =>
        Tables(s, dir).documents
          .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp")),
      Some("""SELECT doc_id,
             |md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
             |FROM documents""".stripMargin)
    )
  )

  /** Winnowing fingerprint CTEs (k=3, w=4; leftmost-min tie rule via
    * the md5||pos sortable key) — mirrors [[TextOps.winnow]]
    * term-for-term; `wf` is the (doc_id, pos, fp) index.
    */
  private def winnowCtes: String =
    """tok AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
      |g AS (SELECT doc_id, i,
      |        md5(array_to_string(ts[i:i+2], ' ')) || '|' || lpad(CAST(i AS VARCHAR), 8, '0') AS key,
      |        greatest(len(ts) - 2, 1) AS np
      |      FROM tok, LATERAL unnest(range(1, greatest(len(ts) - 1, 2))) AS u(i)),
      |m AS (SELECT doc_id, i, np,
      |        min(key) OVER (PARTITION BY doc_id ORDER BY i
      |                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mk
      |      FROM g),
      |wf AS (SELECT DISTINCT doc_id, CAST(substr(mk, 34, 8) AS BIGINT) AS pos,
      |               substr(mk, 1, 32) AS fp
      |       FROM m WHERE i <= greatest(np - 3, 1))""".stripMargin
}
