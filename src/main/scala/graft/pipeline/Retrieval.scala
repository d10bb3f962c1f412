package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse (BM25) retrieval and rank fusion — the lexical half of a
  * hybrid search stack over a document corpus, next to the dense ANN
  * tiers in [[Similarity]]/[[Ivf]]/[[Pq]]/[[Sq]].
  *
  * Reference scope anchor: the reference engine's typed property
  * lookup + scan surface (HGraphStorage `readProperties` /
  * `filterObjects`, src/Database/Graph/HGraphStorage/API.hs) has no
  * ranked text retrieval; this module is part of the training-data
  * extension surface (decontamination-by-retrieval, dedup triage,
  * eval-set mining). Formula is the public Robertson/Spärck Jones
  * BM25 (k1 tf saturation, b length normalization).
  *
  * Scale design (100 TB corpus):
  *  - The postings build is ONE shuffle keyed (doc, token) — the same
  *    shape at any corpus size; df for the query terms is computed on
  *    the term-filtered postings (the filter reaches the scan, so the
  *    shuffle carries only matching rows), never a global vocabulary.
  *  - Query terms ride as literals (`isin`) — scan-side pushdown, no
  *    join against a query table for the single-query path.
  *  - The per-document score is an ordered fold over the (few) query
  *    terms, so the double accumulation order is fixed and
  *    reproducible across engines — groupBy sum order is not.
  *  - Corpus stats (N, avgdl) are a 1-row aggregate crossJoined in
  *    (broadcast-trivial), computed once and reusable across queries.
  */
object Retrieval {

  /** BM25 constants as exact-decimal literals (both engines parse the
    * string form to the same nearest double).
    */
  val K1 = 1.2
  val B = 0.75

  /** Term-frequency postings restricted to `terms`: one row per
    * (doc, term) with tf and the document length dl. The term filter
    * sits UNDER the explode, so non-matching tokens never reach the
    * groupBy shuffle.
    */
  def termPostings(docs: DataFrame, idCol: String, text: Column,
      terms: Seq[String]): DataFrame = {
    val toks = TextOps.tokens(text)
    docs
      .select(col(idCol), size(toks).cast("long").as("dl"), explode(toks).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col(idCol), col("token"))
      .agg(max(col("dl")).as("dl"), count(lit(1)).as("tf"))
  }

  /** Corpus stats: one row (n docs, exact token total, avgdl). avgdl
    * is the exact-long token total cast to double, divided by n — the
    * same arithmetic the SQL oracle performs, and the same arithmetic
    * [[appendIndex]] reproduces from incrementally-maintained longs.
    */
  def corpusStats(docs: DataFrame, text: Column): DataFrame =
    docs.agg(
      count(lit(1)).as("n"),
      sum(size(TextOps.tokens(text)).cast("long")).as("sum_dl"),
      (sum(size(TextOps.tokens(text)).cast("long")).cast("double") / count(lit(1)))
        .as("avgdl"))

  /** Score term postings `(idCol, token, dl, tf)` against df counts
    * and corpus stats — the ONE scoring expression both the one-shot
    * path and the published-index path go through, so their doubles
    * are bit-identical by construction.
    *
    * Per-term contribution
    *   idf * tf (k1+1) / (tf + k1 (1 - b + b dl/avgdl)),
    *   idf = ln(1 + (N - df + 0.5)/(df + 0.5))
    * is summed per document by an ordered fold (terms sorted
    * lexicographically, left-to-right double adds) so the score is
    * bit-stable under repartitioning and reproducible in SQL.
    */
  def scorePostings(tp: DataFrame, idCol: String, dfr: DataFrame,
      n: Column, avgdl: Column): DataFrame = {
    val idf = log(lit(1.0) + (n - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val contrib = idf * (col("tf") * lit(K1 + 1.0)) /
      (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / avgdl))
    tp.join(broadcast(dfr), "token")
      .select(col(idCol), col("token"), contrib.as("contrib"))
      .groupBy(col(idCol))
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("token"), col("contrib")))),
          x => x.getField("contrib")),
        lit(0.0), (a, x) => a + x).as("bm25"))
  }

  /** BM25 scores for a bag-of-words query: (idCol, bm25) for every
    * document matching at least one term.
    */
  def bm25(docs: DataFrame, idCol: String, text: Column,
      terms: Seq[String]): DataFrame = {
    val tp = termPostings(docs, idCol, text, terms)
    val df_ = tp.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val stats = corpusStats(docs, text)
    scorePostings(tp.crossJoin(broadcast(stats)), idCol, df_,
      col("n"), col("avgdl"))
  }

  /** Ranked BM25 top-k: (idCol, bm25 rounded to 6, rnk). Rank is over
    * the ROUNDED score (ties to the lower id) so the ordering is
    * deterministic across engines without relying on bit-identical
    * `ln`. The top-k itself is a distributed TakeOrdered (sort +
    * limit); the rank window only ever sees the k survivors — a
    * global row_number over the full candidate set would drag every
    * matching document into one partition.
    */
  def bm25TopK(docs: DataFrame, idCol: String, text: Column,
      terms: Seq[String], k: Int): DataFrame = {
    val w = Window.orderBy(col("bm25").desc, col(idCol).asc)
    bm25(docs, idCol, text, terms)
      .withColumn("bm25", round(col("bm25"), 6))
      .orderBy(col("bm25").desc, col(idCol).asc)
      .limit(k)
      .withColumn("rnk", row_number().over(w).cast("long"))
  }

  /** Reciprocal-rank fusion of ranked legs (Cormack et al., SIGIR'09):
    * rrf(d) = Σ_legs 1/(kRrf + rank_leg(d)), absent legs contribute 0.
    * Each leg is (idCol, rankCol) — ranks are small ints, so the
    * fused score is exact double arithmetic with no order
    * sensitivity (each leg contributes one term, summed in leg
    * order).
    *
    * The legs are top-k lists (driver-tiny at any corpus scale — the
    * heavy lifting happened inside each retriever), so the outer
    * joins here never shuffle anything large; Spark broadcasts both
    * sides. For a BATCH of queries, fuse per query id by adding the
    * qid to the join key — the shape is unchanged.
    */
  def rrfFuse(legs: Seq[(DataFrame, String, String)], kRrf: Int = 60): DataFrame = {
    require(legs.nonEmpty, "rrfFuse: no legs")
    val renamed = legs.zipWithIndex.map { case ((df, id, rank), i) =>
      df.select(col(id).as("id"), col(rank).as(s"rnk_$i"))
    }
    val joined = renamed.reduce((a, b) => a.join(b, Seq("id"), "full_outer"))
    val score = legs.indices
      .map(i => coalesce(lit(1.0) / (lit(kRrf.toDouble) + col(s"rnk_$i")), lit(0.0)))
      .reduce(_ + _)
    joined.withColumn("rrf", score)
  }

  // --------------------------------------------------------------
  // Published inverted-index layout — the lexical analog of the ANN
  // tiers' cell-partitioned corpora: postings live under
  // `path/postings/tb=<bucket>/` keyed by a token-hash bucket, so a
  // query LISTS AND READS only its terms' buckets (a real partition
  // filter — LexIndexSpec pins selectedPartitions), never the
  // corpus. Corpus stats (n, Σdl) are exact longs in a sidecar;
  // per-term df is computed from the pruned postings at query time —
  // always consistent with the data, nothing global to maintain.
  // --------------------------------------------------------------

  private[graft] def postingsPath(path: String) = s"$path/postings"
  private[graft] def metaPath(path: String) = s"$path/_lexmeta"

  /** Per-document length sidecar: (id, dl) under `doclens/db=<id mod
    * buckets>/` — what makes [[deleteDocs]] O(batch). A takedown needs
    * each victim's dl for the exact counter correction; without this
    * table the only source is the postings themselves, and postings
    * are partitioned by TOKEN bucket, so an id lookup reads the whole
    * index. Bucketed by id, the lookup lists and reads only the
    * victims' partitions. Two longs per document — ~0.002% of the
    * postings at any corpus size. Batch publishes and appends write
    * it; streaming appends write theirs batch-keyed under
    * [[doclensStreamDir]] (same db bucketing, replay-idempotent by
    * overwrite); [[compactIndex]] rebuilds ONE clean sidecar from the
    * union of both, which also preserves zero-token docs (they have no
    * postings rows but are counted in n/Σdl — a postings-only rebuild
    * would silently turn their post-compact deletes into
    * counter-leaking no-ops).
    */
  private[graft] def doclensPath(path: String) = s"$path/doclens"

  /** Streamed (id, dl) rows: one `bk=<batch key>/db=<bucket>/` tree
    * per committed [[graft.streaming.LexStream]] micro-batch —
    * batch-keyed like the counter deltas, so a replay overwrites the
    * same directory with the same bytes. Reads prune on `db` exactly
    * like the base sidecar ([[victimDls]]); [[compactIndex]] folds the
    * trees into the rebuilt base sidecar and drops the dir.
    */
  private[graft] def doclensStreamDir(path: String) = s"$path/doclens_stream"

  private def writeDoclens(docs: DataFrame, idCol: String, text: Column,
      path: String, buckets: Int, mode: String): Unit =
    docs.select(col(idCol).cast("long").as("id"),
        size(TextOps.tokens(text)).cast("long").as("dl"))
      .withColumn("db", pmod(col("id"), lit(buckets.toLong)))
      .repartition(col("db"))
      .write.mode(mode).partitionBy("db").parquet(doclensPath(path))

  /** Streaming counter deltas ([[graft.streaming.LexStream]]): one
    * batch-keyed props file per committed micro-batch, summed into the
    * base sidecar at read time. Keyed filenames make the write
    * idempotent under replay; a republish folds them away.
    */
  private[graft] def countersDir(path: String) = s"$path/_lex_counters"

  /** Driver-side twin of the bucket expression below — MUST stay in
    * lockstep with it (LexIndexSpec pins the pair on a corpus).
    */
  def tokenBucket(token: String, buckets: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"0|$token".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
    (java.lang.Long.parseLong(hex, 16) % buckets).toInt
  }

  private[graft] def tokenBucketCol(token: Column, buckets: Int): Column =
    TextOps.hash32(0, token) % buckets

  /** All-token postings of a corpus: (token, id, dl, tf, positions) —
    * one shuffle keyed (doc, token), the same shape at any corpus
    * size. `positions` is the sorted 0-based occurrence list (bounded
    * by tf ≤ document length), which upgrades the index from
    * bag-of-words to POSITIONAL: phrase queries intersect these lists
    * instead of re-reading documents.
    */
  def allPostings(docs: DataFrame, idCol: String, text: Column): DataFrame = {
    val toks = TextOps.tokens(text)
    docs
      .select(col(idCol).as("id"), size(toks).cast("long").as("dl"),
        posexplode(toks).as(Seq("pos", "token")))
      .groupBy(col("id"), col("token"))
      .agg(max(col("dl")).as("dl"), count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
  }

  /** Publish the inverted index for `docs` under `path`. */
  def publishIndex(docs: DataFrame, idCol: String, text: Column,
      path: String, buckets: Int): Unit = {
    allPostings(docs, idCol, text)
      .withColumn("tb", tokenBucketCol(col("token"), buckets))
      .repartition(col("tb"))
      .sortWithinPartitions(col("tb"), col("token"))
      .write.mode("overwrite").partitionBy("tb").parquet(postingsPath(path))
    writeDoclens(docs, idCol, text, path, buckets, mode = "overwrite")
    val st = corpusStats(docs, text).head()
    graft.core.Sidecar.writeProps(metaPath(path), Seq(
      "kind" -> "lex", "buckets" -> buckets.toString,
      "n" -> st.getLong(0).toString, "sum_dl" -> st.getLong(1).toString))
  }

  /** Append a batch of NEW documents (id-disjoint from the published
    * corpus, like every append tier in the engine) — O(batch)
    * postings into the same buckets plus two exact-long counter
    * bumps. Because df is query-time and avgdl derives from exact
    * longs, an appended index scores BIT-IDENTICALLY to a full
    * republish of the union (LexIndexSpec pins it). Single-writer,
    * like the ANN appends; route concurrent writers through a
    * versioned root ([[graft.core.Versions]]).
    *
    * Appends are coupled (postings + counter bumps) and, like
    * takedowns, must not land inside a [[compactIndexVersioned]]
    * window — a batch landing after the compact's snapshot would be
    * absent from the flipped version while its counters ride along,
    * or be lost wholesale. The append takes the store's maintenance
    * lock ([[graft.core.MaintLock]]) and raises
    * [[graft.core.MaintLock.StoreBusy]] while a window is open;
    * retry after it closes.
    */
  def appendIndex(newDocs: DataFrame, idCol: String, text: Column,
      path: String): Unit = graft.core.MaintLock.withLock(path, "appendIndex") {
    val meta = readLexMeta(path)
    val buckets = meta("buckets").toInt
    allPostings(newDocs, idCol, text)
      .withColumn("tb", tokenBucketCol(col("token"), buckets))
      .repartition(col("tb"))
      .sortWithinPartitions(col("tb"), col("token"))
      .write.mode("append").partitionBy("tb").parquet(postingsPath(path))
    writeDoclens(newDocs, idCol, text, path, buckets, mode = "append")
    val st = newDocs.agg(count(lit(1)),
      sum(size(TextOps.tokens(text)).cast("long"))).head()
    graft.core.Sidecar.writeProps(metaPath(path), Seq(
      "kind" -> "lex", "buckets" -> buckets.toString,
      "n" -> (meta("n").toLong + st.getLong(0)).toString,
      "sum_dl" -> (meta("sum_dl").toLong + st.getLong(1)).toString))
  }

  private[graft] def readLexMeta(path: String): Map[String, String] = {
    val meta = graft.core.Sidecar.readPropsExpected(metaPath(path))
      .getOrElse(throw new IllegalArgumentException(s"no lex sidecar at $path"))
    require(meta.get("kind").contains("lex"),
      s"sidecar at $path is kind=${meta.get("kind")}, not a lexical index")
    // fold in streamed counter deltas (exact longs; order-free sums)
    val deltas = graft.core.Sidecar.listNames(countersDir(path))
      .flatMap(f => graft.core.Sidecar.readProps(s"${countersDir(path)}/$f"))
    if (deltas.isEmpty) meta
    else meta +
      ("n" -> (meta("n").toLong + deltas.map(_("n").toLong).sum).toString) +
      ("sum_dl" -> (meta("sum_dl").toLong + deltas.map(_("sum_dl").toLong).sum).toString)
  }

  /** BM25 top-k over the published index: reads ONLY the query
    * terms' bucket directories, computes df on those pruned postings,
    * and scores through [[scorePostings]] — bit-identical to
    * [[bm25TopK]] over the same corpus.
    */
  def searchIndex(spark: SparkSession, path: String,
      terms: Seq[String], k: Int): DataFrame = {
    val meta = readLexMeta(path)
    val buckets = meta("buckets").toInt
    val n = meta("n").toLong
    val sumDl = meta("sum_dl").toLong
    val avgdl = sumDl.toDouble / n // same arithmetic as corpusStats
    val tbs = terms.map(tokenBucket(_, buckets)).distinct
    val tp = livePostings(spark, path, tbs, terms)
    val df_ = tp.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = Window.orderBy(col("bm25").desc, col("id").asc)
    scorePostings(tp, "id", df_, lit(n), lit(avgdl))
      .withColumn("bm25", round(col("bm25"), 6))
      .orderBy(col("bm25").desc, col("id").asc)
      .limit(k)
      .withColumn("rnk", row_number().over(w).cast("long"))
  }

  private[graft] def lexTombstonesPath(path: String) = s"$path/_lex_tombstones"

  /** Compact the index at `srcPath` into a fresh layout at `dstPath`:
    * tombstoned docs drop out of the postings, appended segments and
    * streamed counter deltas fold into one clean file set per bucket
    * and one base sidecar, and the overlay dirs (tombstones,
    * counters) disappear. ONE shuffle keyed by token bucket with
    * `maxRecordsPerFile` re-splitting — the same contract as
    * [[Ivf.compactPartitioned]], lexical edition — plus one narrow
    * (id, dl) aggregate rebuilding the [[doclensPath]] sidecar from
    * the surviving source sidecars (zero-token docs preserved, streamed
    * ids folded in). The streaming
    * replay markers ARE carried: the compacted postings contain those
    * batches, and losing the markers would make a restarted
    * [[graft.streaming.LexStream]] re-append them. The source layout
    * is left untouched — flip readers then retire it, or use
    * [[compactIndexVersioned]] for an atomic flip.
    */
  def compactIndex(spark: SparkSession, srcPath: String, dstPath: String): Unit = {
    val meta = readLexMeta(srcPath) // kind guard + folds counter deltas
    val tp = spark.read.parquet(postingsPath(srcPath))
    val live = readTombstones(spark, srcPath)
      .fold(tp)(t => tp.join(t, Seq("id"), "left_anti"))
    live.repartition(col("tb"))
      .sortWithinPartitions(col("tb"), col("token"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", Tombstones.compactRecordsPerFile)
      .partitionBy("tb").parquet(postingsPath(dstPath))
    // doclens REBUILT from the union of the surviving source sidecars
    // (base + streamed trees, tombstones anti-joined out), not from the
    // postings: the sidecars also carry ZERO-TOKEN docs (counted in
    // n/Σdl but owning no postings rows — a postings-only rebuild
    // would turn their post-compact deletes into counter-leaking
    // no-ops); every writer records each doc's dl there, and max()
    // dedups a base/stream overlap
    val lens = Seq(doclensPath(srcPath), doclensStreamDir(srcPath))
      .filter(graft.core.Sidecar.listNames(_).nonEmpty)
      .map(spark.read.parquet(_).select(col("id"), col("dl")))
      .reduce(_ unionByName _)
    readTombstones(spark, srcPath).fold(lens)(t => lens.join(t, Seq("id"), "left_anti"))
      .groupBy(col("id")).agg(max(col("dl")).as("dl"))
      .withColumn("db", pmod(col("id"), lit(meta("buckets").toLong)))
      .repartition(col("db"))
      .write.mode("overwrite").partitionBy("db").parquet(doclensPath(dstPath))
    graft.core.Sidecar.writeProps(metaPath(dstPath), Seq(
      "kind" -> "lex", "buckets" -> meta("buckets"),
      "n" -> meta("n"), "sum_dl" -> meta("sum_dl")))
    graft.core.Sidecar.listNames(s"$srcPath/_lex_applied").foreach { key =>
      graft.core.Sidecar.writeString(s"$dstPath/_lex_applied/$key", "")
    }
  }

  /** [[compactIndex]] composed with [[graft.core.Versions]]: compact
    * the live version of a versioned index root into the next version
    * dir and flip the pointer atomically. Returns the new live
    * version.
    *
    * Maintenance-window rule, ENFORCED: lexical takedowns are
    * WRITERS — a [[deleteDocs]] writes a coupled (tombstone batch,
    * negative counter delta) pair, so one landing between this
    * compact's meta/tombstone snapshot and the pointer flip would be
    * applied to neither side or HALF-applied (counters without
    * markers or vice versa). Unlike the marker-only stores (which get
    * an automatic post-flip re-apply,
    * [[Tombstones.compactVersioned]] — markers carry no
    * counters, so re-application is always safe), the coupled write
    * cannot be replayed without double-counting risk. Both writers
    * therefore take the source version's maintenance lock
    * ([[graft.core.MaintLock.compactVersioned]]): this compact holds
    * it across the whole snapshot→flip window, and a mistimed [[deleteDocs]] raises
    * [[graft.core.MaintLock.StoreBusy]] instead of silently
    * corrupting counters (MaintLockSpec pins both directions).
    */
  def compactIndexVersioned(spark: SparkSession, root: String): Long =
    graft.core.MaintLock.compactVersioned(root, "compactIndexVersioned")(
      compactIndex(spark, _, _))

  /** Takedown support for the published index — the lexical analog of
    * the ANN tiers' id-level tombstones: deletes write a batch of
    * (id, dl) tombstone rows (staged dir, atomic rename in) plus one
    * batch-keyed NEGATIVE counter delta, and every read path
    * anti-joins the (tombstone-sized, stats-broadcast) id set. Corpus stats
    * therefore track the LIVE corpus exactly, so a deleted index
    * scores bit-identically to a republish without the deleted docs
    * (LexDeleteSpec pins it). dl rides the tombstone so the counter
    * correction never rescans postings, and the dl LOOKUP is a
    * bucket-pruned read of the [[doclensPath]] sidecar — O(victim
    * batch), the whole takedown never touches the index
    * ([[victimDls]]). A republish folds tombstones away.
    *
    * The (marker, counter) pair makes this a COUPLED write: it runs
    * under the store's maintenance lock and raises
    * [[graft.core.MaintLock.StoreBusy]] if a
    * [[compactIndexVersioned]] window is open (see its doc).
    */
  def deleteDocs(spark: SparkSession, path: String, ids: Seq[Long]): Unit =
    if (ids.nonEmpty) graft.core.MaintLock.withLock(path, "deleteDocs") {
      deleteDocsLocked(spark, path, ids)
    }

  private def deleteDocsLocked(spark: SparkSession, path: String,
      ids: Seq[Long]): Unit = {
    if (ids.isEmpty) return
    val dls = victimDls(spark, path, ids.distinct)
    val live = ids.distinct.filter(dls.contains) // unseen ids: no-op
    if (live.isEmpty) return
    // tombstones already present must not double-correct the counters
    val existing = readTombstones(spark, path)
      .map(_.collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)
    val fresh = live.filterNot(existing)
    if (fresh.isEmpty) return
    val batch = java.util.UUID.randomUUID().toString.take(12)
    val staging = s"${lexTombstonesPath(path)}_staging_$batch"
    import spark.implicits._
    fresh.map(id => (id, dls(id))).toDF("id", "dl")
      .coalesce(1).write.mode("overwrite").parquet(staging)
    graft.core.Sidecar.renameDir(staging, s"${lexTombstonesPath(path)}/b=$batch")
    graft.core.Sidecar.writeString(s"${countersDir(path)}/tomb_$batch",
      s"n=${-fresh.size}\nsum_dl=${-fresh.map(dls(_)).sum}\n")
  }

  /** (id -> dl) for the victim ids: a PRUNED read of the
    * [[doclensPath]] sidecar and of the batch-keyed
    * [[doclensStreamDir]] trees (streamed batches since the last
    * compact). In both only the victims' `db` partitions are listed
    * and read (LexDeleteSpec pins selectedPartitions on each), so a
    * takedown batch costs O(batch) regardless of index size, for
    * batch-published AND streamed-in documents alike. Every writer
    * records each doc's dl in one of the two, so an id neither
    * carries is unseen and stays a no-op.
    */
  private[graft] def victimDls(spark: SparkSession, path: String,
      ids: Seq[Long]): Map[Long, Long] = {
    val meta = readLexMeta(path) // kind guard
    val dbs = ids.map(math.floorMod(_, meta("buckets").toLong)).distinct
    def pruned(root: String): Map[Long, Long] =
      if (graft.core.Sidecar.listNames(root).isEmpty) Map.empty
      else doclensLookup(spark, root, ids, dbs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // streamed rows are id-disjoint from the base (append contract),
    // so the maps never disagree on a key
    pruned(doclensPath(path)) ++ pruned(doclensStreamDir(path))
  }

  /** The pruned doclens lookup plan over either sidecar root — the
    * base [[doclensPath]] or the batch-keyed [[doclensStreamDir]],
    * whose extra `bk=` partition level prunes on `db` identically
    * (factored out so LexDeleteSpec can pin the partition pruning on
    * the executed plan).
    */
  private[graft] def doclensLookup(spark: SparkSession, root: String,
      ids: Seq[Long], dbs: Seq[Long]): DataFrame =
    spark.read.parquet(root)
      .filter(col("db").isin(dbs: _*) && col("id").isin(ids: _*))
      .select(col("id"), col("dl"))

  /** Lexical tombstone ids with the size-conditional broadcast hint
    * ([[Tombstones.broadcastHintMaxBytes]]): under the bound the
    * broadcast is GUARANTEED regardless of the deployment's
    * `autoBroadcastJoinThreshold` (ops commonly set it to -1, which
    * without a hint would shuffle the corpus-scale postings by id for
    * a KB-sized marker set); an oversized backlog loses the hint and
    * degrades to a shuffle join instead of OOMing the driver. Read
    * from the listed batch files, like [[Tombstones.ids]].
    */
  private[graft] def readTombstones(spark: SparkSession, path: String): Option[DataFrame] = {
    val files = graft.core.Sidecar.dataFiles(lexTombstonesPath(path))
    if (files.isEmpty) None
    else Some(Tombstones.hintSized(
      spark.read.parquet(files: _*).select(col("id")), lexTombstonesPath(path)))
  }

  /** Postings of `path` pruned to `tbs` buckets and `terms`, with
    * tombstoned docs anti-joined out (tombstone-sized, broadcast
    * guaranteed by the size-conditional hint in [[readTombstones]];
    * absent tombstones leave the plan untouched).
    */
  private def livePostings(spark: SparkSession, path: String,
      tbs: Seq[Int], terms: Seq[String]): DataFrame = {
    val tp = spark.read.parquet(postingsPath(path))
      .filter(col("tb").isin(tbs: _*))
      .filter(col("token").isin(terms: _*))
    readTombstones(spark, path)
      .fold(tp)(t => tp.join(t, Seq("id"), "left_anti"))
  }

  /** Exact phrase match at scan speed — the one-shot twin of
    * [[phraseSearchIndex]]: count starts where the next |phrase|
    * tokens equal the phrase. Pure array expressions, no shuffle.
    * Returns (idCol, n_occ, first_pos) for matching docs only;
    * first_pos is 0-based.
    */
  def phraseMatch(docs: DataFrame, idCol: String, text: Column,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val n = phrase.length
    val ts = TextOps.tokens(text)
    val ph = phrase.mkString(" ")
    // guard the short-doc case explicitly: sequence(1, 0) in Spark is
    // the DESCENDING [1, 0] (default step -1 when start > stop), and
    // slice(ts, 0, n) then throws — docs shorter than the phrase must
    // yield an empty start list, the sibling call sites' pattern
    val cand = when(size(ts) >= n, sequence(lit(1), size(ts) - (n - 1)))
      .otherwise(array().cast("array<int>"))
    val starts = filter(cand,
      i => concat_ws(" ", slice(ts, i, lit(n))) === lit(ph))
    // Substring PREFILTER before the start-position scan (r16, guide
    // §2.3 "cheap necessary condition first"): a token-slice match
    // implies `text` contains the space-joined phrase VERBATIM — the
    // matched tokens are consecutive in the split, so their source
    // segments are single-space separated (a double space would
    // insert an empty token and break adjacency; concat_ws keeps
    // empty strings, so it cannot fake a match either). contains() is
    // one substring search per doc vs O(tokens·n) per-position string
    // builds — the sweep probe showed the unfiltered pass as a 1-task
    // 1.8 s scan stage; with the prefilter the expensive pass touches
    // only candidate docs, still at scan speed, still zero shuffle.
    // (A repartition-based fix was tried first and measured WORSE:
    // the size(ss) > 0 predicate is pushed below any repartition, so
    // the full pass ran in the narrow scan stage anyway AND re-ran
    // post-exchange.)
    docs.filter(text.contains(lit(ph)))
      .select(col(idCol), starts.as("ss"))
      .filter(size(col("ss")) > 0)
      .select(col(idCol),
        size(col("ss")).cast("long").as("n_occ"),
        (element_at(col("ss"), 1) - 1).cast("long").as("first_pos"))
  }

  /** Phrase search over the PUBLISHED positional index: reads only
    * the phrase terms' bucket directories, joins each term's
    * positions list on the doc id (|distinct terms| − 1 narrow
    * joins over postings — documents are never re-read), and counts
    * starts where every term sits at its offset. Bit-identical to
    * [[phraseMatch]] over the same corpus, the [[searchIndex]]
    * equivalence contract.
    */
  def phraseSearchIndex(spark: SparkSession, path: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val meta = readLexMeta(path)
    val buckets = meta("buckets").toInt
    val distinctTerms = phrase.distinct
    val tbs = distinctTerms.map(tokenBucket(_, buckets)).distinct
    val post = livePostings(spark, path, tbs, distinctTerms)
      .select(col("id"), col("token"), col("positions"))
    // one positions column per PHRASE SLOT (duplicate terms reuse the
    // same postings row through their own join alias)
    val joined = phrase.zipWithIndex.foldLeft[Option[DataFrame]](None) {
      case (acc, (term, i)) =>
        val leg = post.filter(col("token") === term)
          .select(col("id"), col("positions").as(s"p$i"))
        Some(acc.fold(leg)(_.join(leg, Seq("id"))))
    }.get
    val starts = filter(col("p0"), p =>
      (1 until phrase.length).map(i => array_contains(col(s"p$i"), p + i))
        .foldLeft(lit(true))(_ && _))
    joined
      .select(col("id"), starts.as("ss"))
      .filter(size(col("ss")) > 0)
      .select(col("id"),
        size(col("ss")).cast("long").as("n_occ"),
        element_at(col("ss"), 1).cast("long").as("first_pos"))
  }
}
