package graft


import graft.queries.Catalog

/** Benchmark main (driver contract): times the headline queries over
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Queries are materialized through the noop sink — full plan
  * execution including projections (a bare count() would let Catalyst
  * prune everything but the count).
  */
object Bench {

  /** One headline per operator class (SURVEY §2 + pipeline). */
  val headline: Seq[String] = Seq(
    "q1_agg",             // aggregation over pushed-down scan
    "q_join_dims",        // multi-join + broadcast dims
    "q_pergroup_limit",   // window per-group top-k
    "q_step_out_limit",   // graph 1-hop with newest-first limit
    "q_step_both",        // BOTH-direction expansion
    "q_trav_has_oute",    // traversal compile + property filter
    "q_mvcc_update_cow",  // MVCC copy-on-write + snapshot read
    "q_index_lookup",     // index build + point lookup
    "q_dedup_exact",      // content-hash dedup
    "q_dedup_minhash_lsh",// minhash + banding + verify join
    "q_dedup_simhash",    // simhash signatures
    "q_ann_bruteforce",   // brute-force cosine top-k
    "q_ann_lsh_buckets",  // hyperplane bucketing
    "q_text_quality",     // text feature scan
    "q_multimodal_meta",  // binary metadata scan
    "q_cc_components",    // GraphX connected components
    "q_pregel_hops",      // Pregel bounded BFS
    "q_stream_window",    // windowed aggregation
    // round 3 additions (new keys; previous keys stay diffable)
    "q_dedup_cluster",    // LSH pairs -> components -> canonical
    "q_split_leakage_safe", // cluster-aware train/test routing
    "q_decontaminate",    // benchmark n-gram overlap (broadcast)
    "q_sketch_hll",       // HLL registers over the shingle stream
    "q_text_redact",      // regex PII scrub at scan speed
    "q_text_bpe_tokens",  // BPE-ish pre-tokenizer counting
    "q_text_chunks",      // context-window chunking
    "q_text_unigram_lp",  // unigram LM scoring (tf join)
    "q_embed_quantize",   // int8 embedding compression
    "q_multimodal_frames",// binary frame sampling
    // round 5: step expansion over the PUBLISHED BUCKETED layout —
    // the warmup rep pays the one-off bucketed publish (ingest cost,
    // memoized per session); timed reps measure the query-side payoff
    // of the zero-shuffle expansion join vs the unbucketed q_step_*
    "q_step_out_limit_bucketed",
    "q_step_both_bucketed",
    // round 6: IVF over the cell-PARTITIONED published layout — the
    // warmup rep pays train+publish (memoized per session); timed reps
    // measure the probe reading nprobe/nlist of the files vs q_ann_ivf,
    // which re-trains and assigns cells over the full corpus per run
    "q_ann_ivf",
    "q_ann_ivf_probe",
    // round 6: incremental dedup — batch banding + published-band-index
    // join + candidate-only verify; warmup pays the corpus band publish
    "q_dedup_incremental",
    // round 7: batch kNN JOIN over the partitioned layout — every query
    // vector answered in one job; the probe twin reads only the union
    // of probed cell directories (the 100 TB read path)
    "q_ann_topk_batch",
    "q_ann_topk_batch_probe",
    // round 7: embedding-side incremental near-dup (published bucket
    // index + batch-only re-bucket) — the third O(batch) ingestion leg
    "q_dedup_embed_incremental",
    // round 8: compressed ANN tier — ADC over the published PQ codes
    // table (8 bytes/row instead of 256) and IVF-PQ (partition-pruned
    // + compressed). Warmup pays train + codes publish (memoized).
    "q_pq_adc",
    "q_ann_ivfpq",
    "q_ann_ivfpq_residual",
    // round 8: id-level deletes — the probed read paying the tombstone
    // broadcast anti-join (warmup pays publish + tombstone write,
    // memoized); its compacted twin measures the rewritten layout
    // where the join is gone and files are coalesced
    "q_ann_ivf_delete",
    "q_ann_ivf_compact",
    // round 8: batch ADC kNN join — every query answered in one job
    // over 8-byte codes; LUTs ride the broadcast as columns
    "q_ann_pq_topk_batch",
    // round 9: compressed-tier incremental append (frozen-index encode,
    // O(batch)) and the production IVF-PQ read path — probe-pruned ADC
    // shortlist, then exact rerank of only the shortlisted raw vectors
    "q_ann_ivfpq_incremental",
    "q_ann_ivfpq_rerank",
    // round 9: OPQ — learned-rotation PQ at identical code budget;
    // warmup pays train (alternation + Procrustes) + codes publish;
    // the partitioned twin measures the rotation composed with file
    // pruning (coarse cells in the rotated space)
    "q_pq_adc_opq",
    "q_ann_ivfpq_opq",
    "q_sq8_topk",
    "q_ann_ivfsq",
    "q_ann_sq_topk_batch",
    // round 9 session 3: lexical retrieval (one-shot + the partition-
    // pruned token-bucket index), hybrid fusion, span mining AND the
    // ExactSubstr removal pass, Z-order layout probes, triangle
    // count + k-core peeling, the trigram stupid-backoff LM, Bloom
    // decontamination, and the PCA tier (train + project + reduced-
    // space ANN)
    "q_text_bm25",
    "q_text_bm25_indexed",
    "q_hybrid_rrf",
    "q_dedup_spans",
    "q_dedup_spans_remove",
    "q_tri_count",
    "q_tri_local",
    "q_link_prediction",
    "q_graph_assortativity",
    "q_sssp",
    "q_centrality_harmonic",
    "q_graph_eccentricity",
    "q_graph_feature_prop",
    "q_kcore",
    "q_graph_mis",
    "q_layout_zorder",
    "q_text_lm_backoff",
    "q_text_lm_incremental",
    "q_text_phrase",
    "q_text_phrase_indexed",
    "q_text_bm25_deleted",
    "q_decontaminate_bloom",
    "q_embed_pca",
    "q_ann_pca",
    "q_ann_ivfpca_rerank",
    "q_shuffle_rank",
    "q_quality_classifier",
    // round 9 session 4: distributed BPE training (8 vocab-bounded
    // rounds) + corpus tokenization through the trained vocab; the
    // Gopher repetition-coverage scan; the compacted lexical index
    // (overlays folded — the post-takedown steady state); and the
    // deterministic graph trio over the thresholded co-purchase graph
    // (LPA communities, integer-exact personalized PageRank, DeepWalk
    // corpus; the graph build is NOT memoized, so the lines price the
    // full pipeline). BPE training itself is the special `bpe_train`
    // line below — its catalog gate memoizes the model per session,
    // which is ingest-cost discipline for q_text_bpe_segment's reps
    // but would make a q_text_bpe_train line measure nothing.
    "q_text_bpe_segment",
    "q_quality_gopher",
    "q_text_bm25_compacted",
    "q_label_prop",
    "q_pagerank_personalized",
    "q_pagerank_weighted",
    "q_graph_walks",
    // CDC chunk dedup: scan-speed integer boundary predicate + one
    // (chunk-hash) groupBy — sub-document sharing across the corpus
    "q_dedup_cdc_shared",
    // round 10: the O(batch) CDC ingestion leg (warmup pays the
    // chunk-index publish, memoized) and the offset-equi-join
    // skip-gram pair mine over the walk corpus
    "q_dedup_cdc_incremental",
    "q_graph_walk_pairs",
    // CCNet perplexity bucketing: LM scoring + the two-phase global
    // rank + broadcast cutoffs — prices the full filter, not just
    // the LM join
    "q_text_perplexity_filter",
    // integer-exact HITS over the directed customer->supplier graph
    "q_graph_hits",
    // hard token budgets via two-phase per-group prefix sums
    "q_mix_token_budget",
    // HyperANF: 3 rounds of per-vertex HLL ball registers
    "q_graph_anf",
    // greedy k-center core-set over the embedding corpus
    "q_embed_kcenter",
    // data selection: hashed-ngram importance resampling (64-bucket
    // broadcast weight table + one doc-keyed integer dot product)
    // and the two-LM Moore-Lewis cross-entropy difference
    "q_select_dsir",
    "q_select_moore_lewis",
    // SemDeDup: k-means train + cell-blocked pair join + anti-join
    "q_dedup_semantic",
    // alpha-sampling mixture quotas via two-phase per-source ranks
    "q_mix_alpha",
    // fuzzy decontamination: cross-set banding + integer Jaccard verify
    "q_decontaminate_fuzzy",
    // global concat-packing: one two-phase prefix sum over the corpus
    "q_text_pack_global",
    // O(batch) SemDeDup: frozen-index assignment + batch-hit-cell join
    // (warmup pays corpus train + cell publish, memoized)
    "q_dedup_semantic_incremental",
    // the full curation recipe as one plan: quality -> exact dedup ->
    // near-dup -> decontaminate -> alpha-mixture
    "q_pipeline_pretrain",
    // round 11: the recipe's O(batch) ingestion leg — batch through
    // every pre-mixture stage against published indexes (warmup pays
    // the index publish, memoized)
    "q_pipeline_pretrain_incremental",
    // multimodal resize: one hex pass, uniform byte subsampling
    "q_multimodal_resize",
    // winnowing fingerprints: one per-doc window function + distinct
    "q_text_winnow",
    // round 11: the winnow index read path — O(batch) fingerprints
    // joined against the published corpus index (warmup pays the
    // index publish, memoized), df-capped, position-evidenced
    "q_text_winnow_incremental",
    // BPE fertility: segmentation through the trained vocab + ratio
    "q_quality_fertility",
    // SimHash Hamming<=3 pairs: 4 block equi-joins + bit_count verify
    "q_dedup_simhash_hamming",
    // round 11: the production-width (64-bit/16-bit-key) variant and
    // corpus-wide winnow overlap mining off one fingerprint index
    "q_dedup_simhash_hamming_wide",
    "q_text_winnow_overlap",
    // round 12: Manku permuted-table SimHash (the >2M-doc tier — 20
    // combination tables with ~31-bit keys) and the MVCC rollback
    // purge rewrite
    "q_dedup_simhash_tables",
    "q_mvcc_purge_aborted",
    // round 12: the auto width/tables dispatcher and the corpus-
    // relative winnow df cap
    "q_dedup_simhash_scaled",
    "q_text_winnow_overlap_permille",
    // round 12: the winnow index takedown leg (warmup pays the full-
    // corpus index publish, memoized) — df caps recompute over survivors
    "q_text_winnow_delete",
    // round 13: the remaining count-store takedown legs — negated-
    // count folds on the LM gram store and the CDC chunk index
    // (warmups pay the publishes, memoized)
    "q_text_lm_delete",
    "q_dedup_cdc_delete",
    // round 13: id-anti-join takedowns on the per-doc exact index and
    // the MinHash band table (warmups pay the index publishes)
    "q_dedup_exact_delete",
    "q_dedup_minhash_delete",
    // round 15: store-tier completions — marker takedown + versioned
    // compact on the winnow index, the CDC negated-append chunk store
    // (read-side segment merge), and the O(batch) incremental miner
    // driven through a marker-bearing band table
    "q_text_winnow_store_delete",
    "q_text_winnow_store_compact",
    "q_text_winnow_stream",
    "q_dedup_cdc_store",
    "q_dedup_cdc_store_compact",
    "q_dedup_incremental_marked",
    // round 14: the exact-index and band-table store lifecycles —
    // tombstone-marker deletes physically purged into the next
    // version (warmups pay publish + delete + compact, memoized)
    "q_dedup_exact_compact",
    "q_dedup_minhash_compact")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // local-iteration filter: comma-separated query names; unset (the
    // driver's mode) runs the full headline set
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Graft.session("graft-bench", cpus)

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try Catalog.byName(name).build(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }

    // JVM/codegen warmup on a cheap query, not counted
    runOnce("q_point_lookup")

    // bulk-ingest analog (BASELINE.md: trie-insert rate): build the
    // full graph snapshot and publish it as label-partitioned parquet
    def ingest(): Double = {
      val t0  = System.nanoTime()
      val out = java.nio.file.Files.createTempDirectory("graft-ingest").toString
      try graft.core.TpchGraph.snapshot(spark, sfDir).write(out)
      catch { case e: Throwable => System.err.println(s"[bench] ingest failed: $e"); return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }

    // One uncounted warmup (absorbs this query's codegen/compile cost)
    // then median-of-3 with the min/max spread recorded: a single run
    // (or best-of-2) is noisy at the ±2x level on a busy machine,
    // which makes round-over-round deltas unfalsifiable. The median
    // damps one-off GC/page-cache outliers in EITHER direction; the
    // spread ((max-min)/median) says how much to trust the number —
    // flag a regression only when it exceeds the recorded spread.
    val spreads    = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val spreadsPre = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val repsUsed   = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val repTimes   = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val repGcMs    = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Long]]
    // total stop-the-world GC time across all collectors (driver and
    // executors share the JVM in local mode, so this covers everything)
    def gcMs: Long = {
      val it = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.iterator()
      var s = 0L; while (it.hasNext) s += it.next().getCollectionTime; s
    }
    val warmups = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val warminDropped = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    // UNFILTERED per-query medians (no warm-in exclusion): the
    // steady-state median is the headline, but cross-round comparisons
    // need a series whose methodology never changes — value_raw /
    // queries_raw are that series
    val rawMedians = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timed(name: String, run: () => Double, reps: Int = 3): Double = {
      // ADAPTIVE warmup, uncounted: keep warming until two consecutive
      // reps agree within 10% (cap 8). Diagnosed per-rep in r7: with a
      // single warmup the FIRST timed rep of the sub-second bucketed
      // step queries ran ~2x the median with ZERO GC time — JIT/C2 of
      // the generated code and the file-listing caches settle over
      // MANY executions (a slow monotone decay, not one cold rep), and
      // that decay was the whole r6 "noise" (spread 1.7-2.1 at 9 reps
      // that widening could not converge). Warming to a fixpoint
      // attacks the cause; a 20% tolerance was still fooled by the
      // decay's adjacent-rep similarity, 10% was not. Multi-second
      // queries stabilize in the minimum 2 reps, so their added cost
      // is one extra rep.
      var w1 = run(); var w2 = run(); var warm = 2
      while (warm < 8 && w2 >= 0 &&
          (w1 < 0 || math.abs(w2 - w1) > 0.1 * math.max(w2, 0.05))) {
        w1 = w2; w2 = run(); warm += 1
      }
      warmups(name) = warm
      // per-rep (duration, GC-time-during-rep) in arrival order: a
      // slow rep with matching GC time is a pause, one without is a
      // warm-in or interference — recorded so outliers stay diagnosable
      def rep(): (Double, Long) = { val g0 = gcMs; val t = run(); (t, gcMs - g0) }
      var raw = Seq.fill(reps)(rep()).filter(_._1 >= 0)
      if (raw.isEmpty) { spreads(name) = -1.0; spreadsPre(name) = -1.0; repsUsed(name) = 0; return -1.0 }
      def spreadOf(s: Seq[(Double, Long)]) = {
        val t = s.map(_._1).sorted; (t.last - t.head) / t(t.size / 2)
      }
      def r3(x: Double) = BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
      // the raw 3-rep spread is recorded BEFORE widening so readers can
      // tell a genuinely stable query from one the widening rescued
      spreadsPre(name) = r3(spreadOf(raw))
      // adaptive widening: a single GC/JIT outlier can blow the
      // 3-rep spread past any useful threshold on a sub-second query.
      // Widen two reps at a time until the spread converges below the
      // threshold or the rep budget (9) runs out — one fixed +2 step
      // was measured to under-deliver on noisy multi-second queries.
      while (spreadOf(raw) > 0.3 && raw.size < 9)
        raw = raw ++ Seq.fill(2)(rep()).filter(_._1 >= 0)
      repTimes(name) = raw.map(r => r3(r._1))
      repGcMs(name)  = raw.map(_._2)
      // Documented warm-in exclusion: drop up to the first two LEADING
      // reps that exceed 1.5x the all-rep median — the per-rep record
      // proves this class is JIT/cache warm-in (always the first reps,
      // zero GC), which adaptive warmup shortens but cannot always
      // eliminate (the decay has plateaus that fool any consecutive-
      // agreement test). The dropped times stay visible in rep_times
      // and are counted in `warmin_dropped`, so nothing is hidden:
      // median and spread then describe the steady state a long-lived
      // deployment sees, and a REAL regression still moves the median.
      val allMed = raw.map(_._1).sorted.apply(raw.size / 2)
      rawMedians(name) = r3(allMed)
      val drop = raw.take(2).takeWhile(_._1 > 1.5 * allMed).size
      val kept = raw.drop(drop)
      warminDropped(name) = drop
      val ts = kept.map(_._1).sorted
      val med = ts(ts.size / 2)
      spreads(name)  = if (med > 0) r3(spreadOf(kept)) else 0.0
      repsUsed(name) = raw.size
      med
    }
    def best(n: String): Double = timed(n, () => runOnce(n))

    // index maintenance analog (BASELINE.md: trie key-insert rate):
    // full label-scoped typed index build + count
    def indexBuild(): Double = {
      val t0 = System.nanoTime()
      try {
        val g = graft.core.TpchGraph.snapshot(spark, sfDir)
        graft.operators.UniqueIndex.build(g.nodes,
          graft.operators.UniqueIndex.IndexInfo("PartName", Seq("part"), "name")).count()
      } catch { case e: Throwable => System.err.println(s"[bench] index failed: $e"); return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }

    // IVF train + publish as an INGEST-class line (one-off corpus
    // preparation, like `ingest`/`index_build`): keeps the q_ann_ivf_*
    // query lines honest — at real corpus sizes training is paid once
    // per (re)publish, never per query. q_ann_ivf (train + full-corpus
    // assignment per run) stays in the headline set purely as the
    // contrast line for what the published layout saves.
    def ivfTrain(): Double = {
      val t0 = System.nanoTime()
      try {
        val emb = graft.sources.Tables(spark, sfDir).embeddings
        val idx = graft.pipeline.Ivf.train(spark, emb, "vec_id", "embedding", nlist = 8)
        // tempDir registers a JVM-exit delete: warmup + reps call this
        // up to ~17 times, and a bare createTempDirectory would leak a
        // full corpus copy per call
        val out = graft.queries.SessionPublish.tempDir("graft-ivf-train")
        graft.pipeline.Ivf.writePartitioned(emb, "embedding", idx, out)
      } catch { case e: Throwable => System.err.println(s"[bench] ivf_train failed: $e"); return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }

    // BPE training cost, un-memoized (the catalog gate caches its
    // model per session — correct for segment reps, useless to time):
    // 8 rounds of vocab-bounded pair counting + argmax + rewrite.
    def bpeTrain(): Double = {
      val t0 = System.nanoTime()
      try {
        val docs = graft.sources.Tables(spark, sfDir).documents
        val m = graft.pipeline.BpeTrain.train(docs,
          org.apache.spark.sql.functions.col("text"), rounds = 8)
        require(m.merges.size == 8, s"expected 8 merges, got ${m.merges.size}")
      } catch { case e: Throwable => System.err.println(s"[bench] bpe_train failed: $e"); return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }

    def wanted(n: String) = only.forall(_.contains(n))
    val results = headline.filter(wanted).map(n => n -> best(n)) ++
      (if (wanted("ingest")) Seq("ingest" -> timed("ingest", () => ingest())) else Nil) ++
      (if (wanted("index_build")) Seq("index_build" -> timed("index_build", () => indexBuild())) else Nil) ++
      (if (wanted("ivf_train")) Seq("ivf_train" -> timed("ivf_train", () => ivfTrain())) else Nil) ++
      (if (wanted("bpe_train")) Seq("bpe_train" -> timed("bpe_train", () => bpeTrain())) else Nil)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val sp = spreads.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val spp = spreadsPre.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val rps = repsUsed.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val wus = warmups.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val wdr = warminDropped.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val rts = repTimes.map { case (k, v) => "\"" + k + "\":" + v.mkString("[", ",", "]") }.mkString("{", ",", "}")
    val rgc = repGcMs.map { case (k, v) => "\"" + k + "\":" + v.mkString("[", ",", "]") }.mkString("{", ",", "}")
    val rawq = rawMedians.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // a failed line reports -1 and is left out of the sum, so the total
    // of a run with failures covers fewer lines: it is marked
    // non-comparable and the failed names travel with it
    val failed = results.collect { case (k, v) if v < 0 => k }
    val failedNames = failed.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    val fails = s""""n_failed":${failed.size},"failed":$failedNames,"comparable":${failed.isEmpty}"""
    val total = results.map(_._2).filter(_ >= 0).sum
    val totalRaw = results.collect {
      case (k, v) if v >= 0 => rawMedians.getOrElse(k, v)
    }.sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","value_raw":$totalRaw,$fails,"queries":$qs,"queries_raw":$rawq,"spread":$sp,"spread_pre":$spp,"reps":$rps,"warmups":$wus,"warmin_dropped":$wdr,"rep_times":$rts,"rep_gc_ms":$rgc,"sf":"$sfDir"}"""
    // the driver captures a bounded stdout TAIL: the ~14k-char full
    // line overflowed it two rounds running ("parsed": null), so the
    // ONE stdout JSON line is now the CONTRACT fields only — metric,
    // value, unit, queries (3dp medians), sf — ~5x smaller; the
    // diagnostics (per-rep times, GC, spreads, warmups) persist in the
    // validated file artifact (BENCH_r{N}_full.json when committed)
    def r3s(x: Double) = BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    // persist the full line to a committable artifact and VALIDATE it
    // parses (Jackson rides the Spark classpath) — emit-and-check is
    // one step, never tail-scraping
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    // stdout layout for the driver's BOUNDED TAIL capture (measured
    // from the r12 driver artifact: EXACTLY 2000 chars, of which the
    // sbt epilogue + the contract line eat ~300): the per-query
    // medians go out as SMALL SELF-CONTAINED chunk lines (each
    // independently parseable, newest nearest the end), and the very
    // LAST line is a <=500-char contract (total, sf, artifact path,
    // query/chunk counts) that fits ANY plausible window. The full
    // ~120-line median map CANNOT fit: ~28 bytes/entry x 121 headline
    // lines > 2.8 kB under any full-name encoding, vs ~1.7 kB of
    // usable window — so the committed BENCH_r{N}_full.json artifact
    // is the CONTRACT for the complete map (ROUND13.md records the
    // adjudication), and the chunk lines are best-effort window fill:
    // 2-decimal medians, no repeated sf, so roughly the last 60
    // medians land in-window instead of r12's ~45.
    def r2s(x: Double) = BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    val chunks = results.map { case (k, v) => "\"" + k + "\":" + r2s(v) }.grouped(12).toSeq
    chunks.zipWithIndex.foreach { case (c, i) =>
      println(s"""{"metric":"queries_chunk","part":${i + 1},"of":${chunks.size},"queries":${c.mkString("{", ",", "}")}}""")
    }
    // the length bound is enforced OUTSIDE the artifact try below: a
    // require swallowed by that catch would print the oversized line
    // anyway and silently reproduce the r9-r11 tail overflow. The
    // variable-length fields (paths) get a bounded fallback instead of
    // an exception — the bench must still report its totals.
    val compactFull =
      s"""{"metric":"total","value":${r3s(total)},"unit":"sec","value_raw":${r3s(totalRaw)},$fails,"n_queries":${results.size},"queries_parts":${chunks.size},"artifact":"$outFile","sf":"$sfDir"}"""
    // over the bound the failed names stay in the artifact only
    val compact = if (compactFull.length <= 500) compactFull
      else s"""{"metric":"total","value":${r3s(total)},"unit":"sec","value_raw":${r3s(totalRaw)},"n_failed":${failed.size},"comparable":${failed.isEmpty},"n_queries":${results.size},"queries_parts":${chunks.size}}"""
    try {
      val p = java.nio.file.Paths.get(outFile)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, line + "\n")
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val n = mapper.readTree(line)
      require(n.get("queries").size() == results.size,
        "bench artifact round-trip lost query lines")
    } catch { case e: Throwable => System.err.println(s"[bench] artifact write/validate failed: $e") }
    println(compact)
    spark.stop()
  }
}
