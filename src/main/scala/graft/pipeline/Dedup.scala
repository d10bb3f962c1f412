package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard — designed shuffle-aware:
  *
  *  - each shingle/token is hashed with ONE md5; the `numHashes`
  *    MinHash functions come from the universal family
  *    h_j = (a + j*b) mod 2^32 over two 32-bit md5 words — 16x fewer
  *    digest evaluations than seeding md5 per function (measured 70s
  *    -> ~4s at sf0.1 for the full LSH pipeline);
  *  - signatures reduce per doc via one hash-partitioned groupBy on
  *    doc id (uniform keys, no skew); band keys are md5s → the LSH
  *    bucket groupBy is uniform too;
  *  - the candidate-pair join is bounded by bucket sizes, never
  *    corpus²; the naive all-pairs `ngramJaccardPairs` exists for
  *    verification at small SF only.
  */
object Dedup {

  private val M32 = 4294967296L // 2^32

  /** Exact duplicates by content hash. */
  def exactDuplicates(df: DataFrame, idCol: String, text: Column): DataFrame =
    df.groupBy(md5(text).as("content_hash"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keep_id"))
      .filter(col("n") > 1)

  /** Published exact-dedup index: one narrow row per DISTINCT content
    * (hash, canonical keeper id) — the summary a standing corpus's
    * exact-dedup decision needs. At 100 TB this is what persists
    * between ingestion batches: ~48 bytes per distinct document, and
    * the corpus TEXT never re-reads (the exact twin of [[bandTable]]
    * for the near-dup path).
    */
  def exactIndex(df: DataFrame, idCol: String, text: Column): DataFrame =
    df.groupBy(md5(text).as("content_hash")).agg(min(col(idCol)).as("keep_id"))

  /** The MAINTAINABLE (takedown-capable) exact-dedup index: one row
    * per DOCUMENT — `(content_hash, id)`, ~48 bytes each, the same
    * per-doc scale class as [[bandTable]]. The narrow keeper summary
    * ([[exactIndex]]'s shape) is [[exactKeepers]] over it; publishing
    * THIS shape instead costs one id column and buys exact deletes:
    * [[exactIndex]] stores only `min(id)` per hash, so when the keeper
    * itself is tombstoned the surviving minimum is unrecoverable from
    * the index — a narrow-index takedown would need the corpus text.
    * Takedowns go through [[Tombstones]] and are exact: keepers
    * recompute over the live rows, so a removed keeper falls to the
    * surviving minimum and a hash with no survivors vanishes.
    */
  def exactIndexFull(df: DataFrame, idCol: String, text: Column): DataFrame =
    df.select(md5(text).as("content_hash"), col(idCol).as("id"))

  /** Keeper summary of an [[exactIndexFull]] index: `(content_hash,
    * n, keep_id)` — equal to [[exactIndex]] (plus the copy count)
    * over the same documents.
    */
  def exactKeepers(full: DataFrame): DataFrame =
    full.groupBy(col("content_hash"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("keep_id"))

  /** Batch canonical map against the published [[exactIndex]]:
    * (id, keep_id) for every batch document — O(batch) hashing plus
    * one join against the narrow index; no corpus text, no corpus
    * shuffle (the index side shuffles on hash, bytes not documents).
    * `least` folds the corpus keeper with the batch's own first-wins
    * minimum, so the result equals [[canonicalize]] over
    * corpus UNION batch restricted to batch ids even when a batch id
    * undercuts the standing keeper (ids need not be monotonic;
    * DedupIncrementalSpec pins both orders). To maintain the index
    * itself, merge: `exactIndex(batch) grouped with the published
    * index by hash, min(keep_id)` — same O(batch) class.
    */
  def exactDuplicatesIncremental(corpusIndex: DataFrame, newDocs: DataFrame,
      idCol: String, text: Column): DataFrame = {
    val b = newDocs.select(col(idCol).as("id"), md5(text).as("content_hash"))
    val batchMin = b.groupBy(col("content_hash")).agg(min(col("id")).as("batch_keep"))
    b.join(batchMin, Seq("content_hash"))
      .join(corpusIndex.withColumnRenamed("keep_id", "corpus_keep"),
        Seq("content_hash"), "left")
      .select(col("id"), least(col("corpus_keep"), col("batch_keep")).as("keep_id"))
  }

  /** Two 32-bit hash words from one md5 of a string. */
  def hashWords(s: Column): (Column, Column) = {
    val m = md5(s)
    (conv(substring(m, 1, 8), 16, 10).cast("long"),
      conv(substring(m, 9, 8), 16, 10).cast("long"))
  }

  /** Universal-family member j over precomputed words. */
  private def hj(a: Column, b: Column, j: Int): Column = (a + lit(j.toLong) * b) % M32

  /** (id, s) exploded distinct shingles. The shingle+md5 pass is the
    * CPU of every minhash/simhash caller, so it runs over the
    * parallelism-spread frame ([[TextOps.spread]] — a no-op at
    * production scan widths).
    */
  private def explodedShingles(df: DataFrame, idCol: String, text: Column, n: Int): DataFrame =
    TextOps.spread(df.select(col(idCol).as("id"), text.as("__t")), col("id"))
      .select(col("id"), explode(TextOps.shingles(col("__t"), n)).as("s"))

  /** MinHash signatures via explode + one groupBy: (id, h0..h{n-1}).
    * Shingles and md5s are computed exactly once per (doc, shingle).
    */
  def minhashSignatures(df: DataFrame, idCol: String, text: Column,
      numHashes: Int = 16, shingleN: Int = 3): DataFrame = {
    val sh = explodedShingles(df, idCol, text, shingleN)
    val (a, b) = hashWords(col("s"))
    val withWords = sh.select(col("id"), a.as("ha"), b.as("hb"))
    withWords.groupBy("id")
      .agg(min(hj(col("ha"), col("hb"), 0)).as("h0"),
        (1 until numHashes).map(j => min(hj(col("ha"), col("hb"), j)).as(s"h$j")): _*)
  }

  /** Signature as a single array column (expression-only API for
    * small rows / tests; the batch path is [[minhashSignatures]]).
    */
  def minhashSig(text: Column, numHashes: Int, shingleN: Int = 3): Column = {
    val sh = TextOps.shingles(text, shingleN)
    array((0 until numHashes).map { j =>
      array_min(transform(sh, s => {
        val (a, b) = hashWords(s)
        hj(a, b, j)
      }))
    }: _*)
  }

  /** LSH band key for one band over signature columns. */
  private def bandKey(b: Int, rows: Int): Column =
    md5(concat_ws(",", lit(b.toString) +: (0 until rows).map(r => col(s"h${b * rows + r}").cast("string")): _*))

  /** (bands, rows) whose LSH S-curve midpoint best matches the target
    * Jaccard threshold: candidate-pair probability at similarity s is
    * `1 - (1 - s^r)^b`, and its 50% point sits at `(1/b)^(1/r)` — pick
    * the divisor pair of `numHashes` minimizing the gap (ties to more
    * bands = higher recall). A hand-picked (bands, rows) tuned for 0.7
    * silently under-recalls at 0.9 and over-verifies at 0.5; this
    * makes the knob the THRESHOLD, which is what users actually have.
    */
  def autoBands(numHashes: Int, threshold: Double): (Int, Int) = {
    require(numHashes > 0 && threshold > 0 && threshold < 1,
      s"bad autoBands params: numHashes=$numHashes threshold=$threshold")
    val options = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
    options.minBy { case (b, r) =>
      (math.abs(math.pow(1.0 / b, 1.0 / r) - threshold), -b)
    }
  }

  /** LSH band-key table `(id, band)` — the publishable dedup index
    * artifact. A document's band keys depend only on its own text, so
    * the table is incrementally maintainable: band a new batch with
    * this same function and union/append, never re-banding the
    * corpus ([[nearDuplicatesIncremental]]). At cluster scale publish
    * it bucketed by `band` so the candidate self-join is
    * exchange-free, exactly like the graph snapshot's bucketed edges.
    * Takedowns go through [[Tombstones]] and are exact: band
    * membership is per-document, so removing a document removes
    * exactly its candidate pairs.
    */
  def bandTable(df: DataFrame, idCol: String, text: Column,
      numHashes: Int = 16, bands: Int = 4, shingleN: Int = 3): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes): leftover signature " +
        "columns would be silently dropped, weakening recall")
    val rows = numHashes / bands
    val sig = minhashSignatures(df, idCol, text, numHashes, shingleN)
    sig.select(col("id"),
      explode(array((0 until bands).map(bandKey(_, rows)): _*)).as("band"))
  }

  /** Candidate pairs from a band-key table `(id, band)` — the band
    * self-join shared by [[lshCandidates]] (fresh table) and
    * [[nearDuplicatesFromBands]] (published table): one definition,
    * so a future change to the candidate join (salting, a distinct
    * move) can never drift between the two paths.
    */
  private[graft] def candidatesFromBands(bands: DataFrame): DataFrame =
    bands.select(col("band"), col("id").as("da"))
      .join(bands.select(col("band"), col("id").as("db")), Seq("band"))
      .filter(col("da") < col("db")).select("da", "db").distinct()

  /** Candidate near-duplicate pairs via MinHash-LSH. */
  def lshCandidates(df: DataFrame, idCol: String, text: Column,
      numHashes: Int = 16, bands: Int = 4, shingleN: Int = 3): DataFrame =
    candidatesFromBands(bandTable(df, idCol, text, numHashes, bands, shingleN))

  /** Full near-dup mine through a PUBLISHED band table — the read
    * side of the takedown leg: candidates from the table's own band
    * self-join (exactly [[lshCandidates]]' join, off stored rows),
    * verified against `docs`' text. With `bands = bandTable(docs)`
    * this IS `nearDuplicates(docs)`: band membership and true Jaccard
    * are both per-pair properties, so removing documents removes
    * exactly their pairs and nothing else (`q_dedup_minhash_delete`
    * gates post-takedown mining against a from-scratch mine of the
    * survivors).
    */
  def nearDuplicatesFromBands(bands: DataFrame, docs: DataFrame, idCol: String,
      text: Column, threshold: Double, shingleN: Int = 3): DataFrame =
    verifyPairs(candidatesFromBands(bands),
      docs.select(col(idCol).as("id"), text.as("t")), threshold, shingleN)

  /** (id, rep) for every document: rep = the minimum id among docs
    * with byte-identical content (rep == id for unique docs). One
    * uniform groupBy + join on the content hash — the scale-safe
    * prequel to LSH mining on duplicate-heavy corpora.
    */
  def canonicalize(df: DataFrame, idCol: String, text: Column): DataFrame = {
    val h = df.select(col(idCol).as("id"), md5(text).as("h"))
    val reps = h.groupBy(col("h")).agg(min(col("id")).as("rep"))
    h.join(reps, Seq("h")).select(col("id"), col("rep"))
  }

  /** One representative document per distinct content: (id, t) with
    * id = the exact-duplicate cluster's minimum member.
    */
  private def canonicalDocs(df: DataFrame, idCol: String, text: Column): DataFrame =
    df.select(col(idCol).as("id"), text.as("t"), md5(text).as("h"))
      .groupBy(col("h"))
      // same hash => same text, so any value is THE value
      .agg(min(col("id")).as("id"), first(col("t")).as("t"))
      .select(col("id"), col("t"))

  /** [[nearDuplicates]] hardened for duplicate-heavy corpora (the
    * realistic web-scale shape): every member of an exact-duplicate
    * cluster shares EVERY band key, so a boilerplate page with 100k
    * copies turns one LSH bucket's pair join quadratic (10^10 pairs) —
    * the "uniform md5 band keys" argument only holds for distinct
    * content. Mining over one canonical representative per distinct
    * content ([[canonicalize]]) bounds every bucket by the number of
    * distinct contents; pair semantics on the canonical set are
    * identical to [[nearDuplicates]] on a deduplicated corpus
    * (DedupScaleSpec), and membership of exact clusters rejoins via
    * the (id, rep) map. Endpoints are canonical ids; two copies of the
    * same content never form a mined pair (they are exact, not near,
    * duplicates).
    */
  def nearDuplicatesCanonical(df: DataFrame, idCol: String, text: Column,
      threshold: Double, numHashes: Int = 16, bands: Int = 4, shingleN: Int = 3): DataFrame =
    nearDuplicates(canonicalDocs(df, idCol, text), "id", col("t"),
      threshold, numHashes, bands, shingleN)

  /** True-Jaccard verification of candidate pairs against `(id, t)`
    * docs. Deliberately NO candidate-id pre-filter here: deriving the
    * endpoint set from `cand` would make the plan compute the
    * candidate join twice (measured +60% on the full-mine bench), and
    * in the full path every doc is hashed for signatures anyway. The
    * incremental path prunes `docs` BEFORE calling (collected-id
    * `isin` → parquet row-group pruning), which is strictly stronger.
    */
  private def verifyPairs(cand: DataFrame, docs: DataFrame,
      threshold: Double, shingleN: Int): DataFrame = {
    val sh = TextOps.spread(docs, col("id"))
      .select(col("id"), TextOps.shingles(col("t"), shingleN).as("sh"))
    cand
      .join(sh.withColumnRenamed("id", "da").withColumnRenamed("sh", "sha"), Seq("da"))
      .join(sh.withColumnRenamed("id", "db").withColumnRenamed("sh", "shb"), Seq("db"))
      .withColumn("jac",
        round(size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb"))), 4))
      .filter(col("jac") >= threshold)
      .select(col("da"), col("db"), col("jac"))
  }

  /** Verified near-dup pairs: LSH candidates re-checked with true
    * shingle Jaccard >= threshold; shingle sets are fetched only for
    * candidate ids.
    */
  def nearDuplicates(df: DataFrame, idCol: String, text: Column,
      threshold: Double, numHashes: Int = 16, bands: Int = 4, shingleN: Int = 3): DataFrame = {
    val cand = lshCandidates(df, idCol, text, numHashes, bands, shingleN)
    verifyPairs(cand, df.select(col(idCol).as("id"), text.as("t")), threshold, shingleN)
  }

  /** Incremental near-dup mining: verified pairs INVOLVING at least
    * one new document, computed WITHOUT re-banding or re-shingling the
    * corpus — the 100 TB ingestion shape, where a daily batch is a
    * fraction of a percent of the standing corpus and a full re-mine
    * would dominate the pipeline.
    *
    *  - `corpusBands` is the published [[bandTable]] of the standing
    *    corpus (band a batch once, append — signatures depend only on
    *    each doc's own text, so appended rows equal a re-band);
    *  - candidates = band-key matches with >= 1 endpoint in the
    *    batch: batch-batch and batch-corpus pairs surface,
    *    corpus-corpus pairs (already mined when the corpus was built)
    *    never re-form;
    *  - when the candidate set is driver-small (the realistic batch
    *    shape) the endpoint ids push into the corpus scan as an `In`
    *    filter, so corpus text is READ only for docs an LSH bucket
    *    actually matched (row-group pruning); above the cap the
    *    verification joins the full doc set like the batch path.
    *
    * Equals `nearDuplicates(corpus ∪ batch)` restricted to pairs with
    * a batch endpoint (DedupIncrementalSpec pins row equality). Ids
    * must be disjoint between corpus and batch — ENFORCED here: a
    * reappearing id would silently lose its self-pair to the
    * `na =!= ob` filter and break the re-mine equivalence, so the
    * violation is an error, not a quiet wrong answer. The check is
    * one id-column scan of the published band index (KBs per row,
    * column-pruned) against the broadcast batch ids.
    */
  def nearDuplicatesIncremental(corpus: DataFrame, corpusBands: DataFrame,
      newDocs: DataFrame, idCol: String, text: Column, threshold: Double,
      numHashes: Int = 16, bands: Int = 4, shingleN: Int = 3,
      maxDriverPairs: Int = 200000): DataFrame = {
    // the batch band table feeds the candidate join twice (as the
    // probe side and inside the union); persist it for the size-probe
    // job so batch shingling + the minhash groupBy run once, and
    // release it as soon as the probe decided the path
    val clash = corpusBands.select(col("id"))
      .join(broadcast(newDocs.select(col(idCol).as("id")).distinct()), Seq("id"), "left_semi")
      .limit(5).collect().map(_.get(0))
    require(clash.isEmpty,
      s"batch ids already present in the corpus band index (sample: ${clash.mkString(", ")}) — " +
        "incremental mining requires disjoint ids; re-ingest those docs under fresh ids " +
        "or rebuild the corpus index including them")
    val nb = bandTable(newDocs, idCol, text, numHashes, bands, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val all = corpusBands.select(col("id"), col("band")).unionAll(nb)
    val cand = nb.select(col("band"), col("id").as("na"))
      .join(all.select(col("band"), col("id").as("ob")), Seq("band"))
      .filter(col("na") =!= col("ob"))
      .select(least(col("na"), col("ob")).as("da"),
        greatest(col("na"), col("ob")).as("db"))
      .distinct()
    val docs = corpus.select(col(idCol).as("id"), text.as("t"))
      .unionAll(newDocs.select(col(idCol).as("id"), text.as("t")))
    // For a realistic daily batch the candidate set is driver-small
    // (MBs), and the dominant remaining cost is the corpus text scan
    // feeding verification. Collecting the pairs turns the endpoint
    // set into an `isin` predicate the parquet scan prunes row groups
    // with (the same explicit-id-list pushdown queryStep uses) — the
    // corpus is then READ, not just shingled, proportionally to the
    // candidates. Above the cap, fall back to the distributed path
    // (which re-derives the candidate join — the one-off size probe
    // is the price of the common case); semantics are identical.
    val taken = try cand.take(maxDriverPairs + 1)
    finally nb.unpersist(blocking = false)
    if (taken.length <= maxDriverPairs) {
      val spark = corpus.sparkSession
      val candLit = spark.createDataFrame(
        java.util.Arrays.asList(taken: _*), cand.schema)
      // ids stay generically typed: the dedup API does not require
      // Long ids, and the literal path must not either
      val ids = taken.flatMap(r => Seq(r.get(0), r.get(1))).distinct
      val needed = if (ids.isEmpty) docs.limit(0) else docs.filter(col("id").isin(ids.toIndexedSeq: _*))
      verifyPairs(candLit, needed, threshold, shingleN)
    } else verifyPairs(cand, docs, threshold, shingleN)
  }

  /** Near-duplicate CLUSTERS from verified pairs: connected
    * components over the pair graph (HashMin label propagation,
    * [[graft.operators.Components]]), canonical id = the cluster's
    * minimum member. Returns (id, canonical) for every id appearing
    * in at least one pair — the keep/drop decision is then
    * `keep iff id == canonical` (or id absent from the result).
    *
    * This closes the dedup pipeline: pairs alone over-delete (A~B,
    * B~C with A!~C must still drop only two of three); clustering
    * keeps exactly one doc per transitive near-dup group. Near-dup
    * graphs are quasi-cliques, so convergence is 2-3 rounds at any
    * corpus size.
    *
    * Execution: VERIFIED pair sets are usually driver-small (the same
    * observation [[nearDuplicatesIncremental]]'s candidate path rides
    * on), and each HashMin round costs two shuffle jobs — fixed
    * driver latency that dwarfs the actual work at realistic pair
    * counts. So up to `maxDriverPairs` the components come from a
    * driver-side union-find over the collected pairs (identical
    * result: canonical = min member, DedupScaleSpec pins equality);
    * above the cap, or for id types without a driver ordering, the
    * distributed HashMin loop runs as before.
    */
  def clusterPairs(pairs: DataFrame, a: String = "da", b: String = "db",
      maxIters: Int = 50, maxDriverPairs: Int = 200000): DataFrame = {
    // materialize the (possibly expensive) pair-mining plan ONCE: both
    // the node list and the propagation edges derive from it, and the
    // HashMin loop re-reads it every round. Explicit persist (not
    // localCheckpoint) so it can be released as soon as the loop
    // converges — checkpoint blocks that outlive the call were the
    // measured source of bench-to-bench variance.
    val edges = pairs.select(col(a).as("u"), col(b).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // force the cache NOW, in its own job: the loop's first round
    // consumes `edges` through TWO separate stages (the symmetrized
    // neighbor table and the distinct node list), and stages that
    // start before the cache's blocks exist re-run the mine's final
    // (verification-heavy) stage once EACH — measured ~2x the mine's
    // post-shuffle cost on the clustering bench line. One count of
    // the (tiny) pair set pins the blocks before anything forks.
    val n = edges.count()
    val idType = pairs.schema(a).dataType
    val orderable = idType match {
      case _: org.apache.spark.sql.types.LongType | _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.ShortType | _: org.apache.spark.sql.types.StringType => true
      case _ => false
    }
    if (n <= maxDriverPairs && orderable) {
      // driver fast path: the cache makes this collect a block fetch,
      // and union-find replaces O(rounds) two-shuffle jobs with
      // microseconds of driver work
      val taken = try edges.collect() finally edges.unpersist(blocking = false)
      val spark = pairs.sparkSession
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType, nullable = false),
        org.apache.spark.sql.types.StructField("canonical", idType, nullable = false)))
      spark.createDataFrame(
        java.util.Arrays.asList(unionFind(taken).map(org.apache.spark.sql.Row.fromTuple): _*),
        schema)
    } else {
      val ids = edges.select(col("u").as("id"))
        .unionAll(edges.select(col("v").as("id"))).distinct()
      val comp = graft.operators.Components.minLabel(ids, edges, maxIters)
        .select(col("id"), col("component").as("canonical"))
      // minLabel materialized its final round before returning; the
      // mined pairs are no longer read by the result plan's hot path
      edges.unpersist(blocking = false)
      comp
    }
  }

  /** Driver union-find over collected (u, v) pairs: (id, min member
    * of its component) for every endpoint — the exact rows
    * [[graft.operators.Components.minLabel]] computes distributedly.
    */
  private def unionFind(rows: Array[org.apache.spark.sql.Row]): Array[(Any, Any)] = {
    import scala.collection.mutable
    val idx = mutable.HashMap.empty[Any, Int]
    val vals = mutable.ArrayBuffer.empty[Any]
    val parent = mutable.ArrayBuffer.empty[Int]
    def intern(x: Any): Int = idx.getOrElseUpdate(x, {
      vals += x; parent += parent.length; parent.length - 1
    })
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var c = i
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    rows.foreach { r =>
      val (u, v) = (find(intern(r.get(0))), find(intern(r.get(1))))
      if (u != v) parent(math.max(u, v)) = math.min(u, v)
    }
    // canonical = the component's minimum VALUE (not index order)
    def lt(x: Any, y: Any): Boolean = (x, y) match {
      case (p: Long, q: Long)     => p < q
      case (p: Int, q: Int)       => p < q
      case (p: Short, q: Short)   => p < q
      case (p: String, q: String) => p.compareTo(q) < 0
      case _ => throw new IllegalStateException(s"unorderable id ${x.getClass}")
    }
    val minOf = mutable.HashMap.empty[Int, Any]
    vals.indices.foreach { i =>
      val r = find(i)
      val v = vals(i)
      if (!minOf.contains(r) || lt(v, minOf(r))) minOf(r) = v
    }
    vals.indices.map(i => (vals(i), minOf(find(i)))).toArray
  }

  /** Benchmark decontamination: training documents sharing at least
    * one word n-gram with any benchmark document (the eval-leakage
    * check every training-data pipeline needs). Returns
    * (id, n_shared, n_bench_docs) for contaminated training docs.
    *
    * The benchmark side (eval suites — KBs to MBs even when the
    * corpus is 100 TB) is broadcast, so the shingle join is map-side:
    * one scan of the corpus, no shuffle of the big side.
    */
  def decontaminate(docs: DataFrame, idCol: String, text: Column,
      isBenchmark: Column, shingleN: Int = 3): DataFrame = {
    val sh = TextOps.spread(docs, col(idCol))
      .select(col(idCol).as("id"), isBenchmark.as("bench"),
        explode(TextOps.shingles(text, shingleN)).as("s"))
    val bench = broadcast(
      sh.filter(col("bench")).select(col("s"), col("id").as("bench_id")).distinct())
    sh.filter(!col("bench")).select(col("id"), col("s"))
      .join(bench, Seq("s"))
      .groupBy(col("id"))
      .agg(countDistinct(col("s")).as("n_shared"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  /** MinHash-LSH fuzzy decontamination: corpus documents NEAR-duplicating
    * a benchmark document (true Jaccard >= minJaccardPermille/1000 over
    * word shingles), not just sharing one n-gram like [[decontaminate]].
    * This is the reported decontamination mode of modern model cards —
    * a paraphrased or lightly-edited benchmark copy shares most
    * shingles but [[decontaminate]]'s any-overlap rule is too blunt to
    * rank it, while an exact-only rule misses it entirely.
    *
    * Shape: band both sides ([[bandTable]] — signatures depend only on
    * the document text, so split-then-band ≡ band-then-split), join
    * corpus bands against the BROADCAST benchmark bands (the benchmark
    * is the small side by construction), verify only candidate pairs
    * with exact shingle-set intersections. Per corpus doc:
    * (id, n_bench_docs, max_j_permille). The Jaccard compare is pure
    * integers — `1000·|A∩B| >= p·|A∪B|` and the reported permille is
    * BIGINT floor division — so the gate is hash-exact with no double
    * division anywhere.
    */
  def decontaminateFuzzy(docs: DataFrame, idCol: String, text: Column,
      isBenchmark: Column, minJaccardPermille: Int = 500,
      numHashes: Int = 16, bands: Int = 4, shingleN: Int = 3): DataFrame = {
    val corpus = docs.filter(!isBenchmark)
    val bench = docs.filter(isBenchmark)
    val cb = bandTable(corpus, idCol, text, numHashes, bands, shingleN)
    val bb = broadcast(bandTable(bench, idCol, text, numHashes, bands, shingleN)
      .select(col("band"), col("id").as("bench_id")))
    val cand = cb.join(bb, Seq("band")).select(col("id"), col("bench_id")).distinct()
    val cs = TextOps.spread(corpus, col(idCol))
      .select(col(idCol).as("id"), explode(TextOps.shingles(text, shingleN)).as("s"))
      .join(cand.select(col("id")).distinct(), Seq("id"), "left_semi")
    val bs = broadcast(bench
      .select(col(idCol).as("bench_id"), explode(TextOps.shingles(text, shingleN)).as("s")))
    val na = cs.groupBy(col("id")).agg(count(lit(1)).as("sa"))
    val nb = bs.groupBy(col("bench_id")).agg(count(lit(1)).as("sb"))
    val inter = cs.join(bs, Seq("s"))
      .join(cand, Seq("id", "bench_id"), "left_semi")
      .groupBy(col("id"), col("bench_id")).agg(count(lit(1)).as("i"))
    inter.join(na, Seq("id")).join(broadcast(nb), Seq("bench_id"))
      .withColumn("u", col("sa") + col("sb") - col("i"))
      .filter(lit(1000L) * col("i") >= lit(minJaccardPermille.toLong) * col("u"))
      .groupBy(col("id"))
      .agg(countDistinct(col("bench_id")).as("n_bench_docs"),
        max(expr("(1000 * i) DIV u")).as("max_j_permille"))
  }

  /** [[decontaminate]] with a Bloom prefilter — the 100 TB shape when
    * the benchmark side outgrows the broadcast budget. The exact
    * variant ships the full distinct benchmark shingle SET to every
    * executor; here only a fixed-size bitset ([[Bloom]], ~1.25 MB at
    * 10 bits/key for a million shingles) rides the plan as one array
    * literal, and the corpus prunes to Bloom candidates AT SCAN SPEED
    * before any join. The exact verify join then runs over the
    * candidates only — orders of magnitude fewer rows — and is left
    * un-hinted so AQE picks broadcast or shuffle by the real bench
    * size. Bloom filters have no false negatives, so the result is
    * IDENTICAL to [[decontaminate]]: the gate reuses its oracle
    * verbatim, and false positives only cost verify-join rows.
    */
  def decontaminateBloom(docs: DataFrame, idCol: String, text: Column,
      isBenchmark: Column, shingleN: Int = 3, bitsPerKey: Int = 10,
      broadcastVerify: Boolean = true): DataFrame = {
    val sh = TextOps.spread(docs, col(idCol))
      .select(col(idCol).as("id"), isBenchmark.as("bench"),
        explode(TextOps.shingles(text, shingleN)).as("s"))
    val bench = sh.filter(col("bench")).select(col("s"), col("id").as("bench_id")).distinct()
    // the two driver actions (size, then bitset fold) share one scan
    val benchS = bench.select(col("s")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (m, k) = try {
      val (m0, k0) = Bloom.params(benchS.count(), bitsPerKey)
      (m0, k0)
    } catch { case e: Throwable => benchS.unpersist(blocking = false); throw e }
    val words = try Bloom.build(benchS, col("s"), m, k)
      finally { benchS.unpersist(blocking = false): Unit }
    // verify join: broadcast by default (when the bench side fits, the
    // map-side join is strictly faster and the bloom already cut the
    // stream side); at the scale where bench outgrows the broadcast
    // budget — the regime this variant exists for — pass
    // broadcastVerify = false and the join shuffles only the
    // Bloom-surviving candidates, never the corpus
    val verifySide = if (broadcastVerify) broadcast(bench) else bench
    sh.filter(!col("bench")).select(col("id"), col("s"))
      .filter(Bloom.mightContain(words, m, k, col("s")))
      .join(verifySide, Seq("s"))
      .groupBy(col("id"))
      .agg(countDistinct(col("s")).as("n_shared"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  /** SimHash (16-bit default, up to 64) per document, batch path: one
    * md5 per token, bit sums via one groupBy. Bit i of the hash word
    * matches TextOps.hash32(0, token) — the seeded-md5 definition —
    * for i < 32; bits 32..63 come from the independent second word
    * hash32(1, token), so wide fingerprints stay one md5-per-seed and
    * fully oracle-expressible.
    */
  def simhashByDoc(df: DataFrame, idCol: String, text: Column, bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 64, s"simhash width must be 1..64, got $bits")
    val words = if (bits <= 32) 1 else 2
    // spread before the md5-per-token explode ONLY on the two-word
    // (64-bit) path (r16, measured both ways): at words=2 the
    // fingerprint pass is the 1-task 0.6 s scan stage the sweep probe
    // flagged and the spread wins ~25% (hamming_wide 1.27→0.97,
    // tables 1.36→1.05); at words=1 the single md5 is cheap enough
    // that shipping the text through the extra exchange LOSES
    // (q_dedup_simhash 0.47→0.81, reverted to unspread). The
    // repartition is BY id, so the bit-sum groupBy below reuses the
    // pinned partitioning instead of adding an exchange.
    val in = if (words == 2) TextOps.spread(df, col(idCol)) else df
    val toks = in.select(col(idCol).as("id"), explode(TextOps.tokens(text)).as("t"))
      .select(col("id") +:
        (0 until words).map(w => TextOps.hash32(w, col("t")).as(s"h$w")): _*)
    def bitOf(i: Int) = shiftright(col(s"h${i / 32}"), i % 32) % 2
    val sums = toks.groupBy("id").agg(
      count(lit(1)).as("nt"),
      (0 until bits).map(i => sum(bitOf(i)).as(s"b$i")): _*)
    // distinct powers of two: the reduce is bit-assembly, carry-free
    // (bit 63 = Long.MIN_VALUE added to a non-negative partial sum —
    // in range, so ANSI arithmetic never trips)
    val hash = (0 until bits)
      .map(i => when(col(s"b$i") * 2 > col("nt"), lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col("id"), hash.as("simhash"))
  }

  /** (tbl, key, id, simhash) for the single-block scheme: one row per
    * (doc, block), key = that block's bits. Shared by the pair join
    * and the candidate-volume probe (graft.ProbeSimhash).
    */
  private[graft] def simhashBlockKeys(sh: DataFrame, maxHamming: Int,
      bits: Int): DataFrame = {
    val blocks = maxHamming + 1
    require(bits % blocks == 0,
      s"block split must be even: bits=$bits blocks=$blocks " +
        "(a ragged split weakens the pigeonhole guarantee on the short block)")
    val width = bits / blocks
    val mask = (1L << width) - 1
    sh.select(col("id"), col("simhash"),
      explode(array((0 until blocks).map(b =>
        struct(lit(b).as("tbl"),
          (shiftright(col("simhash"), b * width).bitwiseAND(mask)).as("key"))): _*)).as("bk"))
      .select(col("id"), col("simhash"), col("bk.tbl").as("tbl"), col("bk.key").as("key"))
  }

  private def verifiedPairs(keyed: DataFrame, maxHamming: Int): DataFrame = {
    val a = keyed.select(col("tbl"), col("key"), col("id").as("da"), col("simhash").as("sa"))
    val b = keyed.select(col("tbl"), col("key"), col("id").as("db"), col("simhash").as("sb"))
    a.join(b, Seq("tbl", "key")).filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        expr("CAST(bit_count(sa ^ sb) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SimHash near-dup pairs at Hamming distance <= maxHamming via the
    * Manku-Jarvelin-Sarma block-permutation trick (WWW'07): split the
    * fingerprint into `maxHamming + 1` blocks — by pigeonhole, any
    * pair within the distance bound agrees EXACTLY on at least one
    * block — so candidates come from `blocks` cheap equi-joins on
    * (block, block-bits) keys, never an all-pairs XOR scan, and only
    * candidates pay the exact `bit_count(xor)` verify. Collision
    * groups ([[simhashByDoc]] + groupBy) catch distance 0 only; this
    * is the production form that catches the near-misses.
    *
    * Keys are uniform (simhash bits), so the candidate join is
    * skew-free; block count stays `maxHamming + 1` regardless of
    * corpus size — the selectivity knob is fingerprint WIDTH (`bits`),
    * not the join fan-out. At a fixed width the candidate volume is
    * ~N²/2^(bits/blocks): size the width to the corpus with
    * [[autoSimhashBits]] / [[simhashHammingPairsAuto]] (the default
    * 32 is the small-corpus/test setting).
    */
  def simhashHammingPairs(df: DataFrame, idCol: String, text: Column,
      maxHamming: Int = 3, bits: Int = 32): DataFrame =
    verifiedPairs(
      simhashBlockKeys(simhashByDoc(df, idCol, text, bits), maxHamming, bits),
      maxHamming)

  /** Fingerprint width for [[simhashHammingPairs]] from the observed
    * corpus size — the [[autoBands]]/[[Similarity.autoPlanes]] analog
    * for the Manku blocking scheme. Each of the `maxHamming + 1`
    * blocks is a join key of `width` bits, so expected bucket
    * occupancy is N / 2^width and the candidate join emits
    * ~blocks · N² / 2^width pairs: a FIXED width goes quadratic at
    * some corpus size no matter what. Width is therefore chosen so
    * keys carry ~log₂(N / targetBucketRows) bits (constant occupancy,
    * ~linear candidates), clamped to [8, 64/blocks] — the cap is the
    * 64-bit long fingerprint; past N ≈ 2^(64/blocks)·target the
    * scale lever is more tables (Manku's permuted-table design), not
    * wider keys. At gate/test scale (N ≤ 8192 at the default target) this returns the
    * 32-bit default, so auto and manual agree exactly there.
    */
  def autoSimhashBits(corpusRows: Long, maxHamming: Int = 3,
      targetBucketRows: Int = 32): Int = {
    val blocks = maxHamming + 1
    require(blocks >= 2 && 64 / blocks >= 8,
      s"maxHamming $maxHamming leaves blocks too narrow for 64-bit fingerprints")
    require(targetBucketRows >= 1, s"bad targetBucketRows: $targetBucketRows")
    val need = math.ceil(math.log(
      math.max(corpusRows, 1).toDouble / targetBucketRows) / math.log(2)).toInt
    val width = math.min(64 / blocks, math.max(8, need))
    width * blocks
  }

  /** [[simhashHammingPairs]] with the fingerprint width auto-selected
    * from the corpus size ([[autoSimhashBits]] — one count job).
    */
  def simhashHammingPairsAuto(df: DataFrame, idCol: String, text: Column,
      maxHamming: Int = 3, targetBucketRows: Int = 32): DataFrame =
    simhashHammingPairs(df, idCol, text, maxHamming,
      autoSimhashBits(df.count(), maxHamming, targetBucketRows))

  /** (tbl, key, id, simhash) for the permuted-table scheme: one row
    * per (doc, combination table), key = the combination's block bits
    * concatenated. Shared by the pair join and the probe.
    */
  private[graft] def simhashComboKeys(sh: DataFrame, maxHamming: Int,
      numBlocks: Int, bits: Int): DataFrame = {
    require(numBlocks > maxHamming && numBlocks <= bits,
      s"need maxHamming < numBlocks <= bits: k=$maxHamming B=$numBlocks bits=$bits")
    // block widths differ by at most one (the first `bits % B` blocks
    // take the extra bit); a combination key must fit a non-negative
    // long, so the WIDEST combination is bounded at 63 bits
    val q = bits / numBlocks
    val r = bits % numBlocks
    val widths  = (0 until numBlocks).map(b => if (b < r) q + 1 else q)
    val offsets = widths.scanLeft(0)(_ + _).init
    val combos  = (0 until numBlocks).combinations(numBlocks - maxHamming).toSeq
    val maxKeyWidth = widths.sorted.takeRight(numBlocks - maxHamming).sum
    require(maxKeyWidth <= 63,
      s"combination keys would overflow a long: $maxKeyWidth bits (lower numBlocks)")
    // arithmetic shiftright sign-extends the top block: mask AFTER the
    // shift (the q_dedup_simhash_hamming_wide bit-63 rule)
    def comboKey(c: Seq[Int]): Column =
      c.foldLeft(lit(0L): Column) { (acc, b) =>
        shiftleft(acc, widths(b)).bitwiseOR(
          shiftright(col("simhash"), offsets(b)).bitwiseAND(lit((1L << widths(b)) - 1)))
      }
    sh.select(col("id"), col("simhash"),
      explode(array(combos.zipWithIndex.map { case (c, t) =>
        struct(lit(t).as("tbl"), comboKey(c).as("key")) }: _*)).as("tk"))
      .select(col("id"), col("simhash"), col("tk.tbl").as("tbl"), col("tk.key").as("key"))
  }

  /** SimHash Hamming pairs via Manku's PERMUTED-TABLE design (WWW'07
    * §3) — the tier past [[autoSimhashBits]]' 16-bit key cap. Split
    * the fingerprint into `numBlocks > maxHamming + 1` blocks; a pair
    * within Hamming distance `maxHamming` differs in at most
    * `maxHamming` blocks, so it agrees EXACTLY on some combination of
    * `numBlocks - maxHamming` blocks (pigeonhole — recall stays
    * exact). Each combination is one "table": its key concatenates the
    * chosen blocks' bits, `C(numBlocks, maxHamming)` tables total.
    * Keys carry `~bits·(numBlocks-maxHamming)/numBlocks` bits — e.g.
    * 31 at numBlocks=6 vs the 16 the single-block scheme caps at — so
    * expected candidates are `tables · N² / 2^keyWidth`: the extra
    * key bits buy ~2^15 candidate reduction for a 5× table fan-out at
    * numBlocks=6. `numBlocks = maxHamming + 1` degenerates to exactly
    * [[simhashHammingPairs]] (one block per table).
    *
    * Reference-shape anchor: several independent key encodings over
    * one record set is the trie's multi-index layout
    * (HGraphStorage Index.hs:70-138).
    */
  def simhashHammingPairsTables(df: DataFrame, idCol: String, text: Column,
      maxHamming: Int = 3, numBlocks: Int = 6, bits: Int = 64): DataFrame = {
    require(bits >= 1 && bits <= 64, s"simhash width must be 1..64, got $bits")
    if (numBlocks == maxHamming + 1 && bits % numBlocks == 0)
      return simhashHammingPairs(df, idCol, text, maxHamming, bits)
    verifiedPairs(
      simhashComboKeys(simhashByDoc(df, idCol, text, bits), maxHamming, numBlocks, bits),
      maxHamming)
  }

  /** Block count for [[simhashHammingPairsTables]] from the observed
    * corpus size — picks the SMALLEST block count whose narrowest
    * combination key still holds `~log₂(N / targetBucketRows)` bits
    * (constant bucket occupancy ⇒ ~linear candidates), so the table
    * fan-out `C(B, maxHamming)` is never paid before the key width
    * needs it. Returns `maxHamming + 1` (the plain
    * [[simhashHammingPairs]] fan-out) up to N ≈ 2^(64/(k+1))·target —
    * ~2 M docs at the defaults — then steps up. Capped where the key
    * budget tops out (B=8 at k=3: 40-bit keys ≈ 3.5e13 docs at the
    * default target; corpora past THAT cap want sharded fingerprint
    * spaces, not more tables).
    */
  def autoSimhashBlocks(corpusRows: Long, maxHamming: Int = 3,
      targetBucketRows: Int = 32): Int = {
    val k = maxHamming
    require(k >= 1 && 64 / (k + 1) >= 8,
      s"maxHamming $k leaves blocks too narrow for 64-bit fingerprints")
    require(targetBucketRows >= 1, s"bad targetBucketRows: $targetBucketRows")
    val need = math.ceil(math.log(
      math.max(corpusRows, 1).toDouble / targetBucketRows) / math.log(2)).toInt
    def minComboWidth(bb: Int): Int = {
      val q = 64 / bb; val r = 64 % bb
      val take = bb - k
      val smalls = math.min(take, bb - r) // the width-q blocks first
      smalls * q + (take - smalls) * (q + 1)
    }
    // cap: the largest B whose table count stays near the key payoff
    // (C(8,3)=56 tables / 40-bit keys at k=3); past it width gains
    // shrink while fan-out explodes
    val bMax = 8
    var b = k + 1
    while (b < bMax && minComboWidth(b) < need) b += 1
    b
  }

  /** Exact candidate-pair volume of a blocked scheme — Σ C(bucket, 2)
    * over its (table, key) buckets: ONE partial-aggregated groupBy
    * over the keyed rows, no join, so pricing a scheme costs a small
    * fraction of running it. Coalesced: an empty corpus prices to 0,
    * never NULL.
    */
  private[graft] def simhashCandidateVolume(keyed: DataFrame): Long =
    keyed.groupBy(col("tbl"), col("key")).agg(count(lit(1)).as("c"))
      // Column `/` is DOUBLE division — keep the sum integral, halve after
      .agg(coalesce(sum(col("c") * (col("c") - 1)), lit(0L)))
      .first().getLong(0) / 2

  /** One exploded-and-shuffled row costs about this many candidate
    * verifies (codegen `bit_count` evaluations over an SMJ stream) —
    * calibrated from SCALE.md's round-13 A/B probe medians, where the
    * fixed tier measures FASTER at every probed N despite far more
    * candidates: 2.5 M (8.3 vs 16.7 s, +333 M candidates on -15 M
    * keyed rows), 5 M (18.9 vs 71.5 s median-of-3, +1.06 B on -30 M),
    * 10 M (78.6 vs 91.9 s, +3.68 B on -60 M). Honoring the 10 M
    * measurement needs c > 61 (3.68 B extra candidates / 60 M extra
    * rows); the 2.5 M bound needs c > 22 — c = 64 picks the measured
    * winner at all three. Candidate volume still dominates
    * asymptotically (N² for any fixed scheme vs N·tables for rows),
    * so at c = 64 the dispatch flips to permuted tables by N ≈ 20 M
    * (candF ≈ 15 B vs the tables tier's ≈ 13 B modeled cost) — the
    * decision is WHERE the quadratic term overtakes, not whether.
    */
  private[graft] val simhashShuffleRowCost: Long = 64

  /** The dispatch rule: run the permuted-table scheme iff its modeled
    * cost `candidates + rowCost · keyedRows` undercuts the fixed
    * scheme's. Pure — FuzzyDecontSpec pins both regimes with the
    * measured probe volumes.
    */
  private[graft] def chooseSimhashTables(candFixed: Long, rowsFixed: Long,
      candTables: Long, rowsTables: Long): Boolean =
    candTables + simhashShuffleRowCost * rowsTables <
      candFixed + simhashShuffleRowCost * rowsFixed

  /** Exact-pricing short-circuit: candidate volumes are non-negative,
    * so when the tables scheme's ROW cost alone already reaches the
    * fixed scheme's full modeled cost, [[chooseSimhashTables]] returns
    * false for EVERY possible candTables — pricing it (an n·tables-row
    * explode + shuffle, the expensive half of pricing) is provably
    * pointless. Pure; FuzzyDecontSpec pins consistency with the rule.
    */
  private[graft] def tablesCannotWin(candFixed: Long, rowsFixed: Long,
      rowsTables: Long): Boolean =
    simhashShuffleRowCost * rowsTables >=
      candFixed + simhashShuffleRowCost * rowsFixed

  /** The full-range scale entry for SimHash near-dup pairs: one count
    * job, then the cheapest EXACT blocking for that corpus size —
    * width-tier ([[autoSimhashBits]], `maxHamming+1` tables) while
    * narrow fingerprints suffice; once the 64-bit key budget binds,
    * the choice between the saturated width tier and Manku permuted
    * tables ([[autoSimhashBlocks]]) is COST-BASED: both schemes' exact
    * candidate volumes are one cheap aggregate each over fingerprints
    * computed ONCE and materialized — the returned winner plan reads
    * the same blocks, so pricing adds two one-row aggregates to the
    * bare scheme's cost, never a second tokenization pass — and the
    * modeled cost (candidates +
    * [[simhashShuffleRowCost]] · keyed rows) picks the plan — a width
    * heuristic alone routed every probed saturated N (2.5–10 M) to
    * the locally 1.2–3.8× slower tables plan (SCALE.md r13 medians).
    * The reference benchmarks
    * its key encodings against each other and picks per-workload the
    * same way (LowLevelDB perf/Main.hs:17-35, nibble-vs-byte 4.6×).
    *
    * Scheme choice never changes RESULTS: in the saturated regime both
    * schemes block the same 64-bit fingerprint (the fixed tier keys on
    * its low `capWidth·(k+1)` bits — bit i of a simhash is
    * width-independent, so those ARE the narrower fingerprint's
    * blocks) and verify exact Hamming over the full 64 bits, so either
    * branch returns the identical pair set (measured identical at
    * 2.5 M/5 M/10 M, SCALE.md).
    *
    * The opening `df.count()` prices the corpus: on a parquet source
    * it answers from footer metadata (no data scan); on a NON-parquet
    * source it is one extra pass over the input — pass `nHint` (an
    * exact or close row count the caller already has, e.g. from its
    * own ingest accounting) to skip the job entirely. The count only
    * steers WHICH exact blocking scheme runs, never the pair set
    * (both saturated schemes verify full 64-bit Hamming), so an
    * approximate hint is safe: a wrong tier is a performance choice,
    * not a correctness one.
    */
  def simhashHammingPairsScaled(df: DataFrame, idCol: String, text: Column,
      maxHamming: Int = 3, targetBucketRows: Int = 32,
      nHint: Option[Long] = None): DataFrame = {
    val n = nHint.getOrElse(df.count())
    // saturation test on key-width NEED, not on `bits == 64`: for
    // maxHamming where 64 % (k+1) != 0 (k=2: 21-bit cap, bits <= 63)
    // the width tier saturates without ever reaching 64 total bits,
    // and a bits-based test would leave it quadratic at scale
    val capWidth = 64 / (maxHamming + 1)
    val need = math.ceil(math.log(
      math.max(n, 1).toDouble / targetBucketRows) / math.log(2)).toInt
    if (need <= capWidth)
      simhashHammingPairs(df, idCol, text, maxHamming,
        autoSimhashBits(n, maxHamming, targetBucketRows))
    else {
      // saturated regime: fingerprint ONCE. The 64-bit pass is
      // materialized eagerly (localCheckpoint — executor blocks with
      // truncated lineage, the ProbeSimhash discipline) and BOTH the
      // pricing aggregates and the returned winner plan read those
      // blocks, so the corpus is tokenized exactly once end to end;
      // r13 paid the pass twice (pricing cache released, plan
      // recomputed from the text). Release contract: the blocks
      // belong to the returned plan's RDD lineage and Spark's
      // ContextCleaner frees them when the caller drops the result —
      // nothing outlives the result's lifetime. A CacheManager
      // persist could not express this: it pins until an explicit
      // unpersist, which a library function returning a lazy plan
      // has no safe point to issue (unpersisting before return is
      // exactly the r13 double pass). Trade-off, documented: lineage
      // truncation means an executor loss during the result's
      // lifetime fails the job loudly instead of recomputing — rerun
      // the call; on a cluster where that is unacceptable, write the
      // fingerprints through a reliable checkpoint dir and run the
      // direct entries over them.
      val sh = simhashByDoc(df, idCol, text, 64).localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bitsF = capWidth * (maxHamming + 1)
      val b = autoSimhashBlocks(n, maxHamming, targetBucketRows)
      val candF = simhashCandidateVolume(simhashBlockKeys(sh, maxHamming, bitsF))
      val tables = (0 until b).combinations(b - maxHamming).size.toLong
      // price the tables scheme's exact candidate volume ONLY where
      // the decision needs it ([[tablesCannotWin]]): its pricing
      // aggregate explodes n·tables rows through a shuffle — 2.5x the
      // fixed scheme's — and below the crossover band that job's only
      // possible outcome is confirming the fixed tier. Inside the
      // band (and past it), the exact volume is still computed and
      // the rule is still chooseSimhashTables — the short-circuit
      // never changes a decision, only skips a provably-decided job.
      val useTables = !tablesCannotWin(candF, n * (maxHamming + 1), n * tables) && {
        val candT = simhashCandidateVolume(simhashComboKeys(sh, maxHamming, b, 64))
        chooseSimhashTables(candF, n * (maxHamming + 1), candT, n * tables)
      }
      if (useTables)
        verifiedPairs(simhashComboKeys(sh, maxHamming, b, 64), maxHamming)
      else
        verifiedPairs(simhashBlockKeys(sh, maxHamming, bitsF), maxHamming)
    }
  }

  /** Expression-only SimHash (tests / single rows). */
  def simhash(text: Column, bits: Int = 16): Column = {
    val ts = TextOps.tokens(text)
    val n  = size(ts)
    (0 until bits).map { i =>
      val ones = size(filter(ts, t => shiftright(TextOps.hash32(0, t), i) % 2 === 1))
      when(ones * 2 > n, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Exhaustive n-gram Jaccard pairs — verification-grade, small-SF
    * only. The scale path is [[nearDuplicates]].
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, text: Column,
      threshold: Double, shingleN: Int = 3): DataFrame = {
    val sh = explodedShingles(df, idCol, text, shingleN)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = sh.select(col("s"), col("id").as("da"))
      .join(sh.select(col("s"), col("id").as("db")), Seq("s"))
      .filter(col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "da").withColumnRenamed("n", "na"), Seq("da"))
      .join(sizes.withColumnRenamed("id", "db").withColumnRenamed("n", "nb"), Seq("db"))
      .withColumn("jac", round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jac") >= threshold)
      .select(col("da"), col("db"), col("jac"))
  }

  // --------------------------------------------------------------
  // Span-level (substring) dedup — repeated n-token spans ACROSS
  // documents, the whole-doc dedup complement (Lee et al., "Dedupli-
  // cating Training Data Makes Language Models Better", ACL'22:
  // boilerplate and licence blocks repeat inside otherwise-distinct
  // documents and doc-level MinHash never sees them). The exact
  // suffix-array construction of the paper is a single-machine
  // algorithm; the Spark-first shape is positional n-gram shingles
  // counted by key — one shuffle, no all-pairs anything.
  // --------------------------------------------------------------

  /** All positional n-token spans of each document: (id, span).
    * Unlike [[TextOps.shingles]] this keeps EVERY occurrence (no
    * array_distinct) — within-document repetition counts. Documents
    * shorter than n tokens contribute nothing (no span of length n
    * exists in them).
    */
  def positionalSpans(df: DataFrame, idCol: String, text: Column, n: Int): DataFrame = {
    val base = TextOps.spread(df.select(col(idCol).as("id"), text.as("__t")), col("id"))
    val ts = TextOps.tokens(col("__t"))
    base.select(col("id"),
        explode(when(size(ts) >= n,
            transform(sequence(lit(1), size(ts) - (n - 1)),
              i => concat_ws(" ", slice(ts, i, lit(n)))))
          .otherwise(array().cast("array<string>"))).as("span"))
  }

  /** Span repetition counts, SHUFFLING ONLY HASHES: at corpus scale
    * the groupBy key must not be the n-token string itself (n× the
    * corpus bytes through the exchange); count on a 60-bit span hash
    * (md5-derived — cross-engine reproducible, ~2^-43 collision odds
    * at a billion distinct spans), then resolve the (few) surviving
    * hashes back to text with a second, filtered pass. Returns
    * (h, n_docs, n_occ) for spans in ≥ minDocs distinct docs.
    */
  def repeatedSpanHashes(df: DataFrame, idCol: String, text: Column,
      n: Int, minDocs: Int): DataFrame =
    positionalSpans(df, idCol, text, n)
      .select(col("id"), spanHash(col("span")).as("h"))
      .groupBy(col("h"))
      .agg(countDistinct(col("id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= minDocs)

  /** 60-bit span hash: first 15 hex chars of md5 as a long (positive,
    * fits signed 64). SQL: CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT).
    */
  def spanHash(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** The REMOVAL step of span-level dedup (Lee et al. ACL'22 §4.1
    * "ExactSubstr": delete the repeated substrings, keep the rest of
    * the document): every token covered by any n-token span that
    * occurs in ≥ minDocs distinct documents is cut, and the survivors
    * re-join into the cleaned text.
    *
    * Shape: positional span hashes (the [[repeatedSpanHashes]]
    * exchange — hashes only, never span strings), an equi-join with
    * the heavy-hash set to find covered START positions, one
    * collect_set per document (bounded by document length), and a
    * scan-side rebuild: `filter(ts, (t, i) -> no covering start)` is
    * a pure array expression, O(|starts| · len) per doc worst case
    * but |starts| is the document's own repeated-span count — tiny
    * outside pathological boilerplate docs, which are exactly the
    * ones being cut. Documents with no heavy span never enter the
    * join result and keep their text through the left join.
    *
    * Returns (idCol, clean_text, n_removed).
    */
  def removeRepeatedSpans(df: DataFrame, idCol: String, text: Column,
      n: Int, minDocs: Int): DataFrame = {
    // spread once; the span pass runs TWICE over this frame (heavy
    // count + covered starts) and the final rebuild is per-doc CPU too
    val d0 = TextOps.spread(df, col(idCol))
    val ts = TextOps.tokens(text)
    val spanArr = when(size(ts) >= n,
        transform(sequence(lit(1), size(ts) - (n - 1)),
          i => concat_ws(" ", slice(ts, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
    val spans = d0.select(col(idCol).as("id"), posexplode(spanArr).as(Seq("s", "span")))
      .select(col("id"), col("s"), spanHash(col("span")).as("h"))
    val heavy = spans
      .groupBy(col("h"))
      .agg(countDistinct(col("id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("h"))
    // the join-side key gets a reserved alias so a caller whose idCol
    // is literally "id" doesn't hit an ambiguous-reference
    // AnalysisException in the final select
    val starts = spans.join(heavy, Seq("h"))
      .groupBy(col("id"))
      .agg(collect_set(col("s")).as("ss"))
      .withColumnRenamed("id", "__rrs_id")
    val covered = coalesce(col("ss"), array().cast("array<int>"))
    val kept = filter(ts, (_, i) =>
      !exists(covered, s => s <= i && i < s + n))
    d0.join(starts, d0(idCol) === starts("__rrs_id"), "left")
      .select(d0(idCol),
        concat_ws(" ", kept).as("clean_text"),
        (size(ts) - size(kept)).cast("long").as("n_removed"))
  }

  /** Top-k repeated spans WITH their text: hash-counted as above,
    * k winners picked by (n_occ desc, h), then one term-filtered
    * re-scan resolves hash → span text (the isin list is k hashes —
    * driver-tiny, scan-side pushdown; ties inside equal n_occ are
    * final-ordered by span text). The heavy exchange never carries
    * strings.
    */
  def topRepeatedSpans(df: DataFrame, idCol: String, text: Column,
      n: Int, minDocs: Int, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // ONE heavy pass: TakeOrdered over the hash counts, k rows to the
    // driver (k is small by contract) — the winners then drive a
    // single filtered re-scan; nothing heavy runs twice.
    val winners = repeatedSpanHashes(df, idCol, text, n, minDocs)
      .orderBy(col("n_occ").desc, col("h").asc)
      .limit(k)
      .as[(Long, Long, Long)].collect().toSeq
    val texts = positionalSpans(df, idCol, text, n)
      .select(col("span"), spanHash(col("span")).as("h"))
      .filter(col("h").isin(winners.map(_._1): _*))
      .groupBy(col("h")).agg(first(col("span")).as("span"))
    winners.toDF("h", "n_docs", "n_occ").join(broadcast(texts), "h")
      .select(col("span"), col("n_docs"), col("n_occ"))
  }

  /** Leakage-safe train/test split (group-aware holdout): the split
    * unit is the NEAR-DUP CLUSTER, not the document. A document-level
    * random split lets near-duplicate pairs straddle the boundary, so
    * held-out content effectively appears in training (the
    * eval-inflation mode of Lee et al., ACL'22) — here every doc maps
    * to its cluster canonical (itself when unpaired) and the WHOLE
    * group routes to one side by a deterministic cross-engine hash of
    * the canonical id. Reproducible from the corpus alone; no straddle
    * is possible by construction.
    *
    * Scale shape: the mining is the banded [[nearDuplicates]] (never
    * all-pairs), the clustering is [[clusterPairs]] (driver union-find
    * under the cap, distributed HashMin above), and the split itself
    * is one hash per doc — the routing adds nothing to the dedup
    * pipeline the corpus already runs.
    *
    * Returns (idCol, grp, split) for every input doc,
    * split ∈ {train, test} with P(train) = trainPermille/1000 per
    * GROUP (uniform via the md5-based [[TextOps.hash32]]).
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, text: Column,
      threshold: Double, trainPermille: Int): DataFrame = {
    val pairs = nearDuplicates(docs, idCol, text, threshold)
    val clusters = clusterPairs(pairs).withColumnRenamed("id", idCol)
    docs.select(col(idCol))
      .join(clusters, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("canonical"), col(idCol)).as("grp"))
      .select(col(idCol), col("grp"),
        when(TextOps.hash32(1, col("grp").cast("string")) % 1000 < trainPermille,
          lit("train")).otherwise(lit("test")).as("split"))
  }
}
