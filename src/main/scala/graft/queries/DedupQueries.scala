package graft.queries

import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Tombstones}
import graft.sources.Tables

/** Deduplication over the `documents` table. Hashing is md5-based so
  * every stage — shingles, minhash, banding, jaccard — is replayed
  * exactly by the DuckDB oracle.
  */
object DedupQueries extends QueryModule {

  /** Shared SQL fragments (DuckDB): tokens, shingles, hash. */
  private val shinglesCtes =
    """tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |pos AS (SELECT doc_id, ts, unnest(range(1, greatest(len(ts) - 1, 2))) AS i FROM tok),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS s FROM pos)""".stripMargin
  private val shinglesSql = s"WITH $shinglesCtes"

  private def h(seed: String, expr: String) =
    s"CAST(('0x' || substr(md5($seed || '|' || $expr), 1, 8)) AS BIGINT)"

  /** Hamming<=3 pair set over the 32-bit fingerprint via the 4x8-bit
    * block join — shared by the manual 32-bit gate and the scaled
    * dispatcher (which must select exactly this width at gate scale).
    */
  private lazy val simhashNarrowOracle: String = {
    val bits32 = (0 until 32).map { i =>
      s"CASE WHEN 2 * len(list_filter(ts, t -> ((${h("'0'", "t")} >> $i) & 1) = 1)) > len(ts) THEN ${1L << i} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |shh AS (SELECT doc_id, ($bits32) AS simhash FROM tok),
       |k AS (SELECT doc_id, simhash, b.b AS blk, (simhash >> (b.b * 8)) % 256 AS key
       |      FROM shh, (SELECT unnest(range(0, 4)) AS b) b)
       |SELECT DISTINCT a.doc_id AS da, c.doc_id AS db,
       |  CAST(bit_count(xor(a.simhash, c.simhash)) AS BIGINT) AS hamming
       |FROM k a JOIN k c ON a.blk = c.blk AND a.key = c.key AND a.doc_id < c.doc_id
       |WHERE bit_count(xor(a.simhash, c.simhash)) <= 3""".stripMargin
  }

  /** Exhaustive-equivalent Hamming<=3 pair set over the 64-bit
    * fingerprint, rendered through the 4x16-bit block join (cheap in
    * DuckDB, recall-exact by pigeonhole). Shared verbatim by the wide
    * gate and the permuted-table gate: both blockings are exact, so
    * both must return THIS set. Bit 63 is the sign bit: its CASE arm
    * adds Long.MIN (the two's-complement value of 1L << 63), matching
    * Spark exactly.
    */
  private lazy val simhashWideOracle: String = {
    val bits64 = (0 until 64).map { i =>
      val v = if (i == 63) Long.MinValue else 1L << i
      s"CASE WHEN 2 * len(list_filter(ts, t -> ((${h(s"'${i / 32}'", "t")} >> ${i % 32}) & 1) = 1)) > len(ts) THEN $v ELSE 0 END"
    }.mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |shh AS (SELECT doc_id, ($bits64) AS simhash FROM tok),
       |k AS (SELECT doc_id, simhash, b.b AS blk, (simhash >> (b.b * 16)) & 65535 AS key
       |      FROM shh, (SELECT unnest(range(0, 4)) AS b) b)
       |SELECT DISTINCT a.doc_id AS da, c.doc_id AS db,
       |  CAST(bit_count(xor(a.simhash, c.simhash)) AS BIGINT) AS hamming
       |FROM k a JOIN k c ON a.blk = c.blk AND a.key = c.key AND a.doc_id < c.doc_id
       |WHERE bit_count(xor(a.simhash, c.simhash)) <= 3""".stripMargin
  }

  /** CTE chain (no leading WITH) ending in
    * `pairs(da, db, jac)` — the verified MinHash-LSH near-dup pairs.
    * Shared by the pair gate and the clustering gate (where it sits
    * under WITH RECURSIVE).
    */
  private def lshPairsCtes(threshold: Double): String = {
    val sigCols = (0 until 16).map(j => s"min((a + $j * b) % 4294967296) AS h$j").mkString(", ")
    val bandKeys = (0 until 4).map { b =>
      val parts = (0 until 4).map(r => s"CAST(h${b * 4 + r} AS VARCHAR)").mkString(" || ',' || ")
      s"md5('$b' || ',' || $parts)"
    }.mkString(", ")
    s"""$shinglesCtes,
       |hw AS (SELECT doc_id, s, CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS a,
       |               CAST(('0x' || substr(md5(s), 9, 8)) AS BIGINT) AS b FROM sh),
       |sig AS (SELECT doc_id, $sigCols FROM hw GROUP BY doc_id),
       |bands AS (SELECT doc_id, unnest([$bandKeys]) AS band FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |         FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT c.da, c.db, count(*) AS i
       |          FROM cand c JOIN sh x ON x.doc_id = c.da JOIN sh y ON y.doc_id = c.db AND x.s = y.s
       |          GROUP BY c.da, c.db),
       |pairs AS (SELECT da, db, round(i * 1.0 / (sa.n + sb.n - i), 4) AS jac
       |          FROM inter JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
       |          WHERE round(i * 1.0 / (sa.n + sb.n - i), 4) >= $threshold)""".stripMargin
  }

  /** Cross-set banded near-dup oracle for fuzzy decontamination:
    * signatures over ALL docs (banding depends only on the text, so
    * band-then-split ≡ split-then-band), candidates = corpus×bench
    * band collisions, integer Jaccard verify at 500 permille.
    */
  /** The curation chain through its `clean` survivor set (quality →
    * keep-first exact dedup → LSH near-dup removal at J>=0.7 →
    * any-shared-shingle decontamination vs the doc_id%50=0 benchmark)
    * — shared by the full composite and its batch-incremental twin.
    */
  private def pretrainCleanCtes: String =
    s"""${lshPairsCtes(0.7)},
       |q AS (SELECT doc_id, text, source FROM documents
       |      WHERE doc_id % 50 <> 0 AND len(string_split(text,' ')) >= 10),
       |ex AS (SELECT doc_id, text, source FROM
       |        (SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM q)
       |       WHERE rn = 1),
       |ndrop AS (SELECT DISTINCT p.db AS doc_id FROM pairs p
       |          JOIN ex a ON p.da = a.doc_id JOIN ex b ON p.db = b.doc_id),
       |nd AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM ndrop)),
       |cont AS (SELECT DISTINCT x.doc_id FROM sh x JOIN sh y ON x.s = y.s AND y.doc_id % 50 = 0
       |         WHERE x.doc_id IN (SELECT doc_id FROM nd)),
       |clean AS (SELECT * FROM nd WHERE doc_id NOT IN (SELECT doc_id FROM cont))""".stripMargin

  private def fuzzyDecontOracle: String = {
    val sigCols = (0 until 16).map(j => s"min((a + $j * b) % 4294967296) AS h$j").mkString(", ")
    val bandKeys = (0 until 4).map { b =>
      val parts = (0 until 4).map(r => s"CAST(h${b * 4 + r} AS VARCHAR)").mkString(" || ',' || ")
      s"md5('$b' || ',' || $parts)"
    }.mkString(", ")
    s"""WITH $shinglesCtes,
       |hw AS (SELECT doc_id, s, CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS a,
       |               CAST(('0x' || substr(md5(s), 9, 8)) AS BIGINT) AS b FROM sh),
       |sig AS (SELECT doc_id, $sigCols FROM hw GROUP BY doc_id),
       |bands AS (SELECT doc_id, unnest([$bandKeys]) AS band FROM sig),
       |cand AS (SELECT DISTINCT c.doc_id AS id, b.doc_id AS bench_id
       |         FROM bands c JOIN bands b ON c.band = b.band
       |         WHERE c.doc_id % 50 <> 0 AND b.doc_id % 50 = 0),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT c.id, c.bench_id, count(*) AS i
       |          FROM cand c JOIN sh x ON x.doc_id = c.id
       |                      JOIN sh y ON y.doc_id = c.bench_id AND x.s = y.s
       |          GROUP BY c.id, c.bench_id),
       |pairs AS (SELECT id, bench_id, i, sa.n + sb.n - i AS u
       |          FROM inter JOIN sizes sa ON id = sa.doc_id
       |                     JOIN sizes sb ON bench_id = sb.doc_id
       |          WHERE 1000 * i >= 500 * (sa.n + sb.n - i))
       |SELECT id AS doc_id, count(DISTINCT bench_id) AS n_bench_docs,
       |       CAST(max((1000 * i) // u) AS BIGINT) AS max_j_permille
       |FROM pairs GROUP BY id""".stripMargin
  }

  override def queries: Seq[QueryDef] = Seq(
    // ---- exact dedup by content hash ----
    QueryDef(
      "q_dedup_exact",
      "exact duplicate groups by md5(text); doc_id kept per group",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        docs.groupBy(md5(col("text")).as("content_hash"))
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_id"))
      },
      Some("""SELECT md5(text) AS content_hash, count(*) AS n, min(doc_id) AS keep_id
             |FROM documents GROUP BY md5(text)""".stripMargin)
    ),

    // ---- exact-duplicate canonical map (the LSH prequel at scale) ----
    // every doc maps to the min doc id sharing its exact content; LSH
    // then mines only canonical survivors (DedupScaleSpec pins the
    // duplicate-heavy-corpus behavior)
    QueryDef(
      "q_dedup_canonical",
      "canonical map: doc_id -> min doc_id with byte-identical content",
      (s, dir) =>
        Dedup.canonicalize(Tables(s, dir).documents, "doc_id", col("text"))
          .select(col("id").as("doc_id"), col("rep")),
      Some("""SELECT d.doc_id, r.rep
             |FROM documents d JOIN (SELECT md5(text) AS h, min(doc_id) AS rep
             |                       FROM documents GROUP BY 1) r ON md5(d.text) = r.h""".stripMargin)
    ),

    // ---- incremental EXACT dedup: a batch decided against the
    // published (hash, keeper) index — the 100 TB ingestion shape of
    // q_dedup_canonical (batch hashes + one narrow-index join; the
    // corpus text never re-reads). Oracle = the full-corpus canonical
    // map restricted to batch ids, the equivalence the least()-fold
    // must preserve even when batch ids undercut standing keepers ----
    QueryDef(
      "q_dedup_exact_incremental",
      "canonical map for the doc_id%7=3 batch, via the published exact-dup index",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val corpus = docs.filter(col("doc_id") % 7 =!= 3)
        val batch = docs.filter(col("doc_id") % 7 === 3)
        val idxPath = SessionPublish.once(s, "dedup_exact_idx|" + dir) {
          val p = SessionPublish.tempDir("graft-dedup-exact") + "/index"
          Dedup.exactIndex(corpus, "doc_id", col("text")).write.mode("overwrite").parquet(p)
          p
        }
        Dedup.exactDuplicatesIncremental(s.read.parquet(idxPath), batch,
          "doc_id", col("text"))
          .select(col("id").as("doc_id"), col("keep_id"))
      },
      Some("""SELECT d.doc_id, r.keep_id
             |FROM documents d JOIN (SELECT md5(text) AS h, min(doc_id) AS keep_id
             |                       FROM documents GROUP BY 1) r ON md5(d.text) = r.h
             |WHERE d.doc_id % 7 = 3""".stripMargin)
    ),

    // ---- exact-dedup index takedown: per-doc rows, keepers fall to
    // the surviving minimum ----
    // The narrow (hash, min-keeper) index cannot take a delete — a
    // tombstoned keeper's surviving minimum is unrecoverable from it —
    // so the maintainable shape is per-doc (hash, id): the takedown is
    // an id anti-join (ids only, no text) and the keeper summary
    // recomputes at read, falling to the surviving minimum or
    // vanishing with the last copy. Oracle = reindex of the survivors.
    QueryDef(
      "q_dedup_exact_delete",
      "exact-dup keepers after doc_id%5=0 takedown == reindex of the survivors",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val idxPath = SessionPublish.once(s, "dedup_exact_full_idx|" + dir) {
          val p = SessionPublish.tempDir("graft-dedup-exact-del") + "/index"
          Dedup.exactIndexFull(docs, "doc_id", col("text"))
            .write.mode("overwrite").parquet(p)
          p
        }
        Dedup.exactKeepers(Tombstones.without(s.read.parquet(idxPath), "id",
          docs.filter(col("doc_id") % 5 === 0), "doc_id"))
      },
      Some("""SELECT md5(text) AS content_hash, count(*) AS n, min(doc_id) AS keep_id
             |FROM documents WHERE doc_id % 5 <> 0 GROUP BY md5(text)""".stripMargin)
    ),

    // ---- exact-dedup index lifecycle: tombstone delete + versioned
    // compact ----
    // The full per-doc index under a Versions root: the takedown lands
    // as an O(batch) tombstone-marker batch (no index row rewritten —
    // the ANN layouts' mechanism), then compaction physically purges
    // the tombstoned rows into the NEXT version and flips the pointer.
    // The FULL shape is what compacts — compacting to the narrow
    // keeper summary would forfeit every future takedown. Keepers
    // through the compacted store must equal a from-scratch reindex of
    // the survivors; DedupIncrementalSpec pins the commute
    // (delete-then-compact == compact-then-delete).
    QueryDef(
      "q_dedup_exact_compact",
      "exact-dup keepers via tombstone delete + versioned compact == survivor reindex",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val root = SessionPublish.once(s, s"dedup-exact-compact|$dir") {
          val r = SessionPublish.tempDir("graft-dedup-exact-compact") + "/index"
          graft.core.Versions.publish(r) { v1 =>
            Dedup.exactIndexFull(docs, "doc_id", col("text"))
              .write.mode("overwrite").parquet(v1)
          }
          Tombstones.delete(graft.core.Versions.currentPath(r).get,
            docs.filter(col("doc_id") % 7 === 2), "doc_id")
          Tombstones.compactVersioned(s, r)(Tombstones.compact(s, _, _, "id")): Unit
          r
        }
        Dedup.exactKeepers(
          Tombstones.live(s, graft.core.Versions.currentPath(root).get, "id"))
      },
      Some("""SELECT md5(text) AS content_hash, count(*) AS n, min(doc_id) AS keep_id
             |FROM documents WHERE doc_id % 7 <> 2 GROUP BY md5(text)""".stripMargin)
    ),

    // ---- n-gram Jaccard near-dup pairs (verification-grade) ----
    QueryDef(
      "q_dedup_jaccard",
      "word-3-gram Jaccard pairs >= 0.8 via shared-shingle join",
      (s, dir) =>
        Dedup.ngramJaccardPairs(Tables(s, dir).documents, "doc_id", col("text"), 0.8),
      Some(s"""$shinglesSql,
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
              |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
              |SELECT da, db, round(i * 1.0 / (sa.n + sb.n - i), 4) AS jac
              |FROM inter JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
              |WHERE round(i * 1.0 / (sa.n + sb.n - i), 4) >= 0.8""".stripMargin)
    ),

    // ---- MinHash signatures: one md5 per shingle, 16 functions
    // from the universal family (a + j*b) mod 2^32 ----
    QueryDef(
      "q_dedup_minhash_sig",
      "16-hash MinHash signature checksum per document",
      (s, dir) => {
        val sig = Dedup.minhashSignatures(Tables(s, dir).documents, "doc_id", col("text"), 16)
        sig.select(col("id").as("doc_id"),
          (0 until 16).map(j => col(s"h$j")).reduce(_ + _).as("sig_sum"))
      },
      Some({
        val mins = (0 until 16).map(j => s"min((a + $j * b) % 4294967296)").mkString(" + ")
        s"""$shinglesSql,
           |hw AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS a,
           |               CAST(('0x' || substr(md5(s), 9, 8)) AS BIGINT) AS b FROM sh)
           |SELECT doc_id, $mins AS sig_sum FROM hw GROUP BY doc_id""".stripMargin
      })
    ),

    // ---- full MinHash-LSH near-dup pipeline ----
    QueryDef(
      "q_dedup_minhash_lsh",
      "LSH candidates (4 bands x 4 rows) verified by true Jaccard >= 0.7",
      (s, dir) =>
        Dedup.nearDuplicates(Tables(s, dir).documents, "doc_id", col("text"), 0.7),
      Some(s"""WITH ${lshPairsCtes(0.7)}
              |SELECT da, db, jac FROM pairs""".stripMargin)
    ),

    // ---- MinHash band-table takedown: anti-join, then mine ----
    // Delete doc_id%5=0 from the published band table (ids only, no
    // text) and mine the survivors through it. Band rows and true
    // Jaccard are both pair-local — removing documents removes exactly
    // their pairs — so the oracle is the FULL corpus mine filtered to
    // surviving endpoints, which equals a from-scratch mine of the
    // survivors row-for-row.
    QueryDef(
      "q_dedup_minhash_delete",
      "near-dup pairs via the band table after doc_id%5=0 takedown == survivor re-mine",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val bandsPath = SessionPublish.once(s, "dedup_bands_full|" + dir) {
          val p = SessionPublish.tempDir("graft-dedup-bands-del") + "/bands"
          Dedup.bandTable(docs, "doc_id", col("text")).write.mode("overwrite").parquet(p)
          p
        }
        Dedup.nearDuplicatesFromBands(
          Tombstones.without(s.read.parquet(bandsPath), "id",
            docs.filter(col("doc_id") % 5 === 0), "doc_id"),
          docs.filter(col("doc_id") % 5 =!= 0), "doc_id", col("text"), 0.7)
      },
      Some(s"""WITH ${lshPairsCtes(0.7)}
              |SELECT da, db, jac FROM pairs
              |WHERE da % 5 <> 0 AND db % 5 <> 0""".stripMargin)
    ),

    // ---- band-table store lifecycle: tombstone delete + versioned
    // compact ----
    // The band table is the biggest dedup index (bands x N rows); the
    // marker delete makes its takedown O(batch) instead of an O(index)
    // republish, and compaction pays the rewrite once per maintenance
    // window. Mining through the compacted live view must equal the
    // survivor re-mine — band membership and true Jaccard are per-pair
    // properties, the q_dedup_minhash_delete argument carried through
    // the store tier (DedupIncrementalSpec pins the delete/compact
    // commute).
    QueryDef(
      "q_dedup_minhash_compact",
      "near-dup pairs via tombstone delete + versioned band-table compact == survivor re-mine",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val root = SessionPublish.once(s, "dedup_bands_compact|" + dir) {
          val r = SessionPublish.tempDir("graft-dedup-bands-compact") + "/bands"
          graft.core.Versions.publish(r) { v1 =>
            Dedup.bandTable(docs, "doc_id", col("text"))
              .write.mode("overwrite").parquet(v1)
          }
          Tombstones.delete(graft.core.Versions.currentPath(r).get,
            docs.filter(col("doc_id") % 5 === 1), "doc_id")
          Tombstones.compactVersioned(s, r)(Tombstones.compact(s, _, _, "id")): Unit
          r
        }
        Dedup.nearDuplicatesFromBands(
          Tombstones.live(s, graft.core.Versions.currentPath(root).get, "id"),
          docs.filter(col("doc_id") % 5 =!= 1), "doc_id", col("text"), 0.7)
      },
      Some(s"""WITH ${lshPairsCtes(0.7)}
              |SELECT da, db, jac FROM pairs
              |WHERE da % 5 <> 1 AND db % 5 <> 1""".stripMargin)
    ),

    // ---- incremental near-dup mining: a new batch against the
    // PUBLISHED corpus band table — the 100 TB ingestion shape (band
    // the batch, join the standing index, never re-mine the corpus).
    // The warmup rep pays the one-off corpus band publish (memoized
    // per session, the same ingest-vs-query split as the bucketed
    // snapshot); timed reps measure batch banding + index join +
    // candidate-only verification ----
    QueryDef(
      "q_dedup_incremental",
      "near-dup pairs involving the doc_id%7=3 batch, via the published band table",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val corpus = docs.filter(col("doc_id") % 7 =!= 3)
        val batch = docs.filter(col("doc_id") % 7 === 3)
        val bandsPath = SessionPublish.once(s, "dedup_bands|" + dir) {
          val p = SessionPublish.tempDir("graft-dedup-bands") + "/bands"
          Dedup.bandTable(corpus, "doc_id", col("text")).write.mode("overwrite").parquet(p)
          p
        }
        Dedup.nearDuplicatesIncremental(corpus, s.read.parquet(bandsPath), batch,
          "doc_id", col("text"), 0.7)
      },
      // oracle: the FULL mine filtered to pairs with a batch endpoint —
      // the equivalence the incremental path must preserve
      Some(s"""WITH ${lshPairsCtes(0.7)}
              |SELECT da, db, jac FROM pairs WHERE da % 7 = 3 OR db % 7 = 3""".stripMargin)
    ),

    // ---- incremental mining through a MARKER-BEARING band table ----
    // The 100 TB steady state the other gates miss in combination: a
    // standing layout that has absorbed takedowns (live tombstone
    // markers, not yet compacted) keeps ingesting batches. The
    // O(batch) incremental leg mines through Tombstones.live — the
    // marker anti-join must remove exactly the victims' candidate
    // pairs (band membership is per-doc), so the result equals the
    // incremental mine against a survivor-only republish, which is
    // the full-corpus mine restricted to batch-endpoint pairs with no
    // tombstoned endpoint.
    QueryDef(
      "q_dedup_incremental_marked",
      "batch near-dup pairs via a band table carrying live tombstone markers",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val corpus0 = docs.filter(col("doc_id") % 7 =!= 3)
        val batch = docs.filter(col("doc_id") % 7 === 3)
        val bandsPath = SessionPublish.once(s, "dedup_bands_marked|" + dir) {
          val p = SessionPublish.tempDir("graft-dedup-bands-marked") + "/bands"
          Dedup.bandTable(corpus0, "doc_id", col("text"))
            .write.mode("overwrite").parquet(p)
          Tombstones.delete(p,
            corpus0.filter(col("doc_id") % 5 === 0).select(col("doc_id")), "doc_id")
          p
        }
        Dedup.nearDuplicatesIncremental(
          corpus0.filter(col("doc_id") % 5 =!= 0),
          Tombstones.live(s, bandsPath, "id"),
          batch, "doc_id", col("text"), 0.7)
      },
      Some(s"""WITH ${lshPairsCtes(0.7)}
              |SELECT da, db, jac FROM pairs
              |WHERE (da % 7 = 3 OR db % 7 = 3)
              |  AND (da % 7 = 3 OR da % 5 <> 0)
              |  AND (db % 7 = 3 OR db % 5 <> 0)""".stripMargin)
    ),

    // ---- STREAMING near-dup ingestion: base publish + streamed
    // batches under the staged-marker exactly-once protocol. The
    // store's invariant IS the oracle: after streaming any split in
    // any batch order, the pairs table equals the one-shot full-corpus
    // mine (each pair surfaces exactly once, when its later endpoint
    // arrives) — so the oracle is the SAME SQL as q_dedup_minhash_lsh,
    // now also proving no pair is lost or duplicated across the
    // publish/append/promote machinery ----
    QueryDef(
      "q_dedup_stream",
      "streamed near-dup pairs (base + 2 micro-batches) == one-shot full mine",
      (s, dir) => {
        val root = SessionPublish.once(s, "dedupstream|" + dir) {
          val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
          val base = docs.filter(col("doc_id") % 7 =!= 3)
          val b1 = docs.filter(col("doc_id") % 7 === 3 && col("doc_id") % 2 === 0)
          val b2 = docs.filter(col("doc_id") % 7 === 3 && col("doc_id") % 2 =!= 0)
          val p = graft.streaming.DedupStream.Params(0.7)
          val root = SessionPublish.tempDir("graft-dedup-stream") + "/store"
          graft.streaming.DedupStream.publish(base, "doc_id", col("text"), p, root)
          val srcDir = SessionPublish.tempDir("graft-dedup-stream-src")
          val ckpt = SessionPublish.tempDir("graft-dedup-stream-ckpt")
          b1.coalesce(1).write.mode("append").parquet(srcDir)
          b2.coalesce(1).write.mode("append").parquet(srcDir)
          // maxFilesPerTrigger=1 forces one micro-batch per file — the
          // multi-batch path is what the gate exists to prove
          graft.streaming.DedupStream.ingestDocuments(s, srcDir, docs.schema,
            "doc_id", "text", p, root, ckpt, maxFilesPerTrigger = Some(1))
            .awaitTermination()
          root
        }
        s.read.parquet(graft.streaming.DedupStream.pairsPath(root))
          .select(col("da"), col("db"), col("jac"))
      },
      Some(s"""WITH ${lshPairsCtes(0.7)}
              |SELECT da, db, jac FROM pairs""".stripMargin)
    ),

    // ---- near-dup clustering: pairs -> transitive groups -> one
    // canonical survivor per group (the step after pair mining that
    // actually decides keep/drop; pairs alone over-delete chains) ----
    QueryDef(
      "q_dedup_cluster",
      "connected components over verified LSH pairs; canonical = min doc id",
      (s, dir) => {
        val pairs = Dedup.nearDuplicates(Tables(s, dir).documents, "doc_id", col("text"), 0.7)
        Dedup.clusterPairs(pairs).select(col("id").as("doc_id"), col("canonical"))
      },
      Some(s"""WITH RECURSIVE ${lshPairsCtes(0.7)},
              |und AS (SELECT da AS u, db AS v FROM pairs
              |        UNION ALL SELECT db, da FROM pairs),
              |reach(id, comp) AS (
              |  SELECT u, u FROM (SELECT DISTINCT u FROM und) s
              |  UNION
              |  SELECT und.v, reach.comp FROM reach JOIN und ON und.u = reach.id)
              |SELECT id AS doc_id, min(comp) AS canonical FROM reach GROUP BY id""".stripMargin)
    ),

    // ---- leakage-safe train/test split ----
    // The split unit is the near-dup CLUSTER: a whole group routes by
    // one deterministic hash of its canonical id, so near-duplicates
    // can never straddle the train/test boundary (doc-level random
    // splits leak held-out content into training).
    QueryDef(
      "q_split_leakage_safe",
      "cluster-aware 90/10 split: near-dup groups route whole by canonical-id hash",
      (s, dir) =>
        Dedup.leakageSafeSplit(Tables(s, dir).documents, "doc_id", col("text"),
          threshold = 0.7, trainPermille = 900),
      Some(s"""WITH RECURSIVE ${lshPairsCtes(0.7)},
              |und AS (SELECT da AS u, db AS v FROM pairs
              |        UNION ALL SELECT db, da FROM pairs),
              |reach(id, comp) AS (
              |  SELECT u, u FROM (SELECT DISTINCT u FROM und) s
              |  UNION
              |  SELECT und.v, reach.comp FROM reach JOIN und ON und.u = reach.id),
              |canon AS (SELECT id, min(comp) AS canonical FROM reach GROUP BY id),
              |grps AS (SELECT d.doc_id, COALESCE(c.canonical, d.doc_id) AS grp
              |         FROM documents d LEFT JOIN canon c ON d.doc_id = c.id)
              |SELECT doc_id, grp,
              |       CASE WHEN CAST(('0x' || substr(md5('1|' || CAST(grp AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 < 900
              |            THEN 'train' ELSE 'test' END AS split
              |FROM grps""".stripMargin)
    ),

    // ---- benchmark decontamination: train docs sharing a 3-gram
    // with the (deterministic) benchmark subset ----
    QueryDef(
      "q_decontaminate",
      "training docs sharing any word-3-gram with the benchmark subset (doc_id % 50 = 0)",
      (s, dir) =>
        Dedup.decontaminate(Tables(s, dir).documents, "doc_id", col("text"),
          col("doc_id") % 50 === 0)
          .select(col("id").as("doc_id"), col("n_shared"), col("n_bench_docs")),
      Some(s"""$shinglesSql,
              |bench AS (SELECT DISTINCT s, doc_id AS bench_id FROM sh WHERE doc_id % 50 = 0),
              |train AS (SELECT doc_id, s FROM sh WHERE doc_id % 50 <> 0)
              |SELECT t.doc_id, count(DISTINCT t.s) AS n_shared,
              |       count(DISTINCT b.bench_id) AS n_bench_docs
              |FROM train t JOIN bench b ON t.s = b.s
              |GROUP BY t.doc_id""".stripMargin)
    ),

    // ---- decontamination through the Bloom prefilter ----
    // Same answer as q_decontaminate, different 100 TB plan: the
    // benchmark shingle set becomes a fixed-size bitset literal, the
    // corpus prunes to Bloom candidates at scan speed, and only the
    // candidates reach the exact verify join. Bloom filters have no
    // false negatives, so the oracle is q_decontaminate's verbatim —
    // the approximate structure is gate-proven to change nothing.
    QueryDef(
      "q_decontaminate_bloom",
      "decontamination via Bloom prefilter + exact verify (same result, scan-speed pruning)",
      (s, dir) =>
        Dedup.decontaminateBloom(Tables(s, dir).documents, "doc_id", col("text"),
          col("doc_id") % 50 === 0)
          .select(col("id").as("doc_id"), col("n_shared"), col("n_bench_docs")),
      Some(s"""$shinglesSql,
              |bench AS (SELECT DISTINCT s, doc_id AS bench_id FROM sh WHERE doc_id % 50 = 0),
              |train AS (SELECT doc_id, s FROM sh WHERE doc_id % 50 <> 0)
              |SELECT t.doc_id, count(DISTINCT t.s) AS n_shared,
              |       count(DISTINCT b.bench_id) AS n_bench_docs
              |FROM train t JOIN bench b ON t.s = b.s
              |GROUP BY t.doc_id""".stripMargin)
    ),

    // ---- FUZZY decontamination: benchmark near-dups, not any-overlap ----
    // The model-card mode: a corpus doc is contaminated when it
    // NEAR-duplicates a benchmark doc (true Jaccard >= 0.5 over word
    // shingles among LSH candidates) — q_decontaminate's any-shared-
    // shingle rule flags light touch, this ranks real copies. The
    // Jaccard compare and the reported permille are pure integers.
    QueryDef(
      "q_decontaminate_fuzzy",
      "corpus docs near-duplicating a benchmark doc (banded, Jaccard >= 0.5)",
      (s, dir) =>
        Dedup.decontaminateFuzzy(Tables(s, dir).documents, "doc_id", col("text"),
          col("doc_id") % 50 === 0)
          .select(col("id").as("doc_id"), col("n_bench_docs"), col("max_j_permille")),
      Some(fuzzyDecontOracle)
    ),

    // ---- end-to-end pretraining curation (the FineWeb/Dolma recipe
    // shape) as ONE declarative plan ----
    // quality filter (>=10 tokens) → exact keep-first dedup →
    // MinHash-LSH near-dup removal (keep-smallest-id at Jaccard>=0.7)
    // → decontamination (drop docs sharing any shingle with the
    // doc_id%50=0 benchmark) → α-mixture quotas (600 permille) over
    // the survivors. Each stage is the already-gated operator; the
    // composite gates their INTERACTION (set algebra between stages,
    // stage order) and that the whole chain stays one Catalyst plan —
    // no driver materialization between stages. Signatures/bands
    // depend only on the text, so the oracle reuses the global pair
    // chain filtered to both-endpoints-surviving (band-then-filter ≡
    // filter-then-band).
    QueryDef(
      "q_pipeline_pretrain",
      "quality -> exact dedup -> near-dup -> decontaminate -> alpha-mixture, one plan",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val bench = docs.filter(col("doc_id") % 50 === 0)
        val corpus = docs.filter(col("doc_id") % 50 =!= 0)
        val q = corpus.filter(size(graft.pipeline.TextOps.tokens(col("text"))) >= 10)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("text")).orderBy(col("doc_id"))
        // widen the post-window survivor stream before the minhash
        // signature pass (r16, guide §2.5): the window exchange
        // carries only a few MB of text, so AQE coalesces it to 1-4
        // tasks while the downstream shingle+md5-per-perm CPU is the
        // heaviest per-row work in the pipeline (probe: a 1.5 s
        // single-task stage). Gauged on the SCAN width of the docs
        // table — pinned only when the whole corpus fits a couple of
        // file splits, i.e. never at production scale.
        val exact = graft.analytics.GraphAnalytics.maybeRepartition(
          q.withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1).drop("rn"),
          docs, col("doc_id"))
        val pairs = Dedup.nearDuplicates(exact, "doc_id", col("text"), 0.7)
        // nd feeds both the contamination derivation and the final
        // anti-join — checkpoint once (same rationale as `clean`),
        // then widen for the same reason as `exact`: the checkpoint
        // inherits the narrow anti-join width and the contamination
        // branch re-explodes every surviving doc's shingles
        val nd = graft.analytics.GraphAnalytics.widenPinned(
          exact.join(
            pairs.select(col("db").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
            .localCheckpoint(true),
          col("doc_id"))
        val benchSh = broadcast(bench
          .select(explode(graft.pipeline.TextOps.shingles(col("text"), 3)).as("s"))
          .distinct())
        val contaminated = nd
          .select(col("doc_id"), explode(graft.pipeline.TextOps.shingles(col("text"), 3)).as("s"))
          .join(benchSh, Seq("s")).select(col("doc_id")).distinct()
        // the mixture consumes the survivor set several times (counts,
        // quota, rank) and Spark re-plans common subtrees per branch —
        // checkpoint the (small) survivor frame once so the heavy
        // dedup/decontamination chain executes exactly once
        val clean = nd.join(contaminated, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("source")).localCheckpoint(true)
        graft.pipeline.TextOps.alphaMixture(clean, "source", "doc_id", keepPermille = 600)
          .filter(col("selected") === 1L)
          .select(col("doc_id"), col("source"), col("rnk"), col("quota"))
      },
      Some(s"""WITH $pretrainCleanCtes,
              |n AS (SELECT source, count(*) AS nn FROM clean GROUP BY source),
              |s2 AS (SELECT source, nn, CAST(floor(sqrt(CAST(nn AS DOUBLE))) AS BIGINT) AS ss FROM n),
              |tot AS (SELECT CAST(sum(nn) AS BIGINT) AS N, CAST(sum(ss) AS BIGINT) AS S FROM s2),
              |qta AS (SELECT source, CAST(least((((600 * N + 999)//1000) * ss)//S, nn) AS BIGINT) AS quota
              |        FROM s2, tot),
              |t2 AS (SELECT doc_id, source,
              |        CAST(('0x'||substr(md5('0|'||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) AS h
              |       FROM clean),
              |c2 AS (SELECT doc_id, source,
              |        CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS rnk
              |       FROM t2)
              |SELECT c2.doc_id, c2.source, c2.rnk, qta.quota
              |FROM c2 JOIN qta USING (source) WHERE c2.rnk <= qta.quota""".stripMargin)
    ),

    // ---- SimHash Hamming pairs at the PRODUCTION width ----
    // The 64-bit fingerprint (16-bit block keys = 65k buckets) that
    // autoSimhashBits selects at scale; bits 32..63 come from the
    // independent second seeded hash word, so the wide path is just
    // as oracle-expressible as the 32-bit fixture — this gates the
    // second-word construction and the signed top bit cross-engine.
    QueryDef(
      "q_dedup_simhash_hamming_wide",
      "SimHash pairs at Hamming <= 3 (64-bit fingerprint, 16-bit block keys)",
      (s, dir) =>
        Dedup.simhashHammingPairs(Tables(s, dir).documents, "doc_id", col("text"),
          maxHamming = 3, bits = 64),
      Some(simhashWideOracle)
    ),

    // ---- SimHash Hamming pairs through Manku PERMUTED TABLES ----
    // The >N≈2M tier: 6 blocks -> C(6,3)=20 combination tables with
    // ~31-bit keys instead of 4 tables with 16-bit keys. Recall is
    // pigeonhole-EXACT (<=3 differing bits touch <=3 blocks, so some
    // 3-block combination agrees verbatim), so the oracle is the WIDE
    // gate's SQL unchanged — the gate proves the permuted-table path
    // returns the identical pair set the single-block blocking does.
    QueryDef(
      "q_dedup_simhash_tables",
      "SimHash pairs at Hamming <= 3 via Manku permuted tables (6 blocks, 20 tables)",
      (s, dir) =>
        Dedup.simhashHammingPairsTables(Tables(s, dir).documents, "doc_id", col("text"),
          maxHamming = 3, numBlocks = 6, bits = 64),
      Some(simhashWideOracle)
    ),

    // ---- the curation recipe's O(batch) ingestion leg ----
    // A new batch flows through every pre-mixture stage AGAINST
    // PUBLISHED INDEXES: quality (per-doc), exact dedup via the
    // content-hash index, near-dup removal via the band index +
    // candidate-only verify, decontamination via the broadcast
    // benchmark shingle set. The corpus TEXT is touched only for
    // candidate verification — never re-shingled, re-banded, or
    // re-hashed. Oracle = the FULL composite recompute over
    // corpus ∪ batch, restricted to batch ids — the equivalence that
    // makes nightly ingestion trustworthy (a displaced keeper, an
    // id-order near-dup, a stage interaction all route identically).
    // Mixture quotas are corpus-global by definition and re-derive
    // from survivor counts downstream (q_mix_alpha's job), so the
    // incremental leg ends at the clean survivor set.
    QueryDef(
      "q_pipeline_pretrain_incremental",
      "doc_id%7=3 batch through quality -> exact -> near-dup -> decontaminate vs published indexes",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val all = docs.filter(col("doc_id") % 50 =!= 0)
        val minToks = size(graft.pipeline.TextOps.tokens(col("text"))) >= 10
        val root = SessionPublish.once(s, "pipeline_inc|" + dir) {
          val r = SessionPublish.tempDir("graft-pipeline-inc")
          val qc = all.filter(col("doc_id") % 7 =!= 3).filter(minToks)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("text")).orderBy(col("doc_id"))
          val exC = qc.withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1).select(col("doc_id"), col("text"))
            .localCheckpoint(true)
          Dedup.exactIndex(qc, "doc_id", col("text"))
            .write.mode("overwrite").parquet(s"$r/exact")
          Dedup.bandTable(exC, "doc_id", col("text"))
            .write.mode("overwrite").parquet(s"$r/bands")
          exC.write.mode("overwrite").parquet(s"$r/survivors")
          r
        }
        val qb = all.filter(col("doc_id") % 7 === 3).filter(minToks)
        // exact: survive iff the batch doc IS the keeper among
        // corpus ∪ batch (keep-first = min id, displacement included)
        val exKeep = Dedup.exactDuplicatesIncremental(
          s.read.parquet(s"$root/exact"), qb, "doc_id", col("text"))
          .filter(col("id") === col("keep_id"))
          .select(col("id").as("doc_id"))
        val exB = qb.join(exKeep, Seq("doc_id"), "left_semi")
          .localCheckpoint(true)
        // near-dup: banded batch vs the published index; a batch doc
        // drops when it is the LARGER endpoint of a verified pair
        // (displaced corpus keepers shadow correctly: their identical-
        // text batch keeper fires the same pairs)
        val pairs = Dedup.nearDuplicatesIncremental(
          s.read.parquet(s"$root/survivors"), s.read.parquet(s"$root/bands"),
          exB, "doc_id", col("text"), 0.7)
        val nd = exB.join(pairs.select(col("db").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        // decontamination: the benchmark shingle set broadcasts
        val benchSh = broadcast(docs.filter(col("doc_id") % 50 === 0)
          .select(explode(graft.pipeline.TextOps.shingles(col("text"), 3)).as("s"))
          .distinct())
        val contaminated = nd
          .select(col("doc_id"), explode(graft.pipeline.TextOps.shingles(col("text"), 3)).as("s"))
          .join(benchSh, Seq("s")).select(col("doc_id")).distinct()
        nd.join(contaminated, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("source"))
      },
      Some(s"""WITH $pretrainCleanCtes
              |SELECT doc_id, source FROM clean WHERE doc_id % 7 = 3""".stripMargin)
    ),

    // ---- SimHash fingerprints (one md5 per token, batch path) ----
    QueryDef(
      "q_dedup_simhash",
      "16-bit SimHash per document + collision groups",
      (s, dir) =>
        Dedup.simhashByDoc(Tables(s, dir).documents, "doc_id", col("text"))
          .groupBy(col("simhash")).agg(count(lit(1)).as("n"), min(col("id")).as("min_doc")),
      Some({
        val bits = (0 until 16).map { i =>
          s"CASE WHEN 2 * len(list_filter(ts, t -> ((${h("'0'", "t")} >> $i) & 1) = 1)) > len(ts) THEN ${1L << i} ELSE 0 END"
        }.mkString(" + ")
        s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
           |sh AS (SELECT doc_id, ($bits) AS simhash FROM tok)
           |SELECT simhash, count(*) AS n, min(doc_id) AS min_doc FROM sh GROUP BY simhash""".stripMargin
      })
    ),

    // ---- SimHash Hamming-distance near-dups (Manku WWW'07) ----
    // Pairs within Hamming distance 3 of a 32-bit SimHash: by
    // pigeonhole any such pair agrees exactly on one of 4 8-bit
    // blocks, so candidates are 4 equi-joins on uniform (blk, key)
    // keys — never an all-pairs XOR scan — and only candidates pay
    // the exact bit_count(xor) verify. The distance-0-only collision
    // gate (q_dedup_simhash) misses the near-misses this catches.
    QueryDef(
      "q_dedup_simhash_hamming",
      "SimHash pairs at Hamming <= 3 (32-bit, 4-block pigeonhole candidates)",
      (s, dir) =>
        Dedup.simhashHammingPairs(Tables(s, dir).documents, "doc_id", col("text"),
          maxHamming = 3, bits = 32),
      Some(simhashNarrowOracle)
    ),

    // ---- the full-range auto dispatcher ----
    // simhashHammingPairsScaled: one count job, then the cheapest
    // EXACT blocking for that corpus size — width tier while narrow
    // fingerprints suffice (this gate's regime: 500-6k docs select the
    // 32-bit default), permuted tables past the 64-bit key cap. The
    // oracle is the 32-bit gate's SQL verbatim: the dispatcher must be
    // a pure routing decision, never a semantic one.
    QueryDef(
      "q_dedup_simhash_scaled",
      "auto-dispatched SimHash Hamming pairs (width tier selected at gate scale)",
      (s, dir) =>
        Dedup.simhashHammingPairsScaled(Tables(s, dir).documents, "doc_id", col("text"),
          maxHamming = 3),
      Some(simhashNarrowOracle)
    ),

    // ---- span-level dedup: repeated 8-token spans across documents ----
    // The substring complement of doc-level MinHash (Lee et al.,
    // ACL'22): boilerplate repeats inside otherwise-distinct docs.
    // The Spark side counts 60-bit span HASHES (the shuffle never
    // carries n-gram strings) and resolves only the 15 winners back
    // to text; the oracle replays the same hash so the winner set —
    // picked by (n_occ desc, h) — is identical.
    QueryDef(
      "q_dedup_spans",
      "top-15 repeated 8-token spans (≥2 distinct docs): span, n_docs, n_occ",
      (s, dir) =>
        Dedup.topRepeatedSpans(Tables(s, dir).documents, "doc_id", col("text"),
          n = 8, minDocs = 2, k = 15),
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |sp AS (SELECT doc_id,
             |         unnest(list_transform(generate_series(1, greatest(len(ts) - 7, 0)),
             |           i -> array_to_string(ts[i:i+7], ' '))) AS span FROM tok),
             |hh AS (SELECT doc_id, span, CAST('0x' || substr(md5(span), 1, 15) AS BIGINT) AS h FROM sp),
             |c AS (SELECT h, min(span) AS span, count(DISTINCT doc_id) AS n_docs,
             |             count(*) AS n_occ
             |      FROM hh GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
             |SELECT span, n_docs, n_occ FROM c ORDER BY n_occ DESC, h LIMIT 15""".stripMargin)
    ),

    // ---- span REMOVAL: the ExactSubstr delete step ----
    // Every token covered by a cross-document repeated 8-span is cut;
    // survivors re-join. The oracle rebuilds cleaned text with the
    // same covered-position predicate over MATERIALIZED span CTEs.
    QueryDef(
      "q_dedup_spans_remove",
      "documents with repeated 8-token spans removed: clean text + tokens cut",
      (s, dir) =>
        Dedup.removeRepeatedSpans(Tables(s, dir).documents, "doc_id", col("text"),
          n = 8, minDocs = 2),
      Some("""WITH tok AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |sp AS MATERIALIZED (
             |  SELECT doc_id, i - 1 AS s,
             |         CAST('0x' || substr(md5(array_to_string(ts[i:i+7], ' ')), 1, 15) AS BIGINT) AS h
             |  FROM tok, LATERAL unnest(generate_series(1, greatest(len(ts) - 7, 0))) AS u(i)),
             |heavy AS MATERIALIZED (SELECT h FROM sp GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
             |cov AS MATERIALIZED (SELECT DISTINCT doc_id, s FROM sp JOIN heavy USING (h)),
             |st AS MATERIALIZED (SELECT doc_id, list(s) AS ss FROM cov GROUP BY doc_id)
             |SELECT t.doc_id,
             |  coalesce(array_to_string(
             |    list_transform(
             |      list_filter(generate_series(1, len(t.ts)),
             |        i -> len(list_filter(coalesce(st.ss, []), s -> s <= i - 1 AND i - 1 < s + 8)) = 0),
             |      i -> t.ts[i]), ' '), '') AS clean_text,
             |  CAST(len(t.ts) - len(
             |    list_filter(generate_series(1, len(t.ts)),
             |      i -> len(list_filter(coalesce(st.ss, []), s -> s <= i - 1 AND i - 1 < s + 8)) = 0)) AS BIGINT) AS n_removed
             |FROM tok t LEFT JOIN st USING (doc_id)""".stripMargin)
    ),

    // ---- content-defined chunking (rolling-hash CDC) ----
    // Boundaries where the 8-char polynomial hash hits 0 mod 32
    // (avg ~32-char chunks): a pure-integer, shift-resistant tiling
    // the oracle re-derives boundary-for-boundary. 6201 chunks at
    // sf0.01.
    QueryDef(
      "q_dedup_cdc",
      "CDC chunk tiling of every document (window 8, avg chunk 32)",
      (s, dir) =>
        graft.pipeline.Cdc.chunks(Tables(s, dir).documents, "doc_id",
          col("text"), avgChunk = 32),
      Some(s"""WITH $cdcCtes
              |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
              |       CAST(s AS BIGINT) AS start, CAST(e - s + 1 AS BIGINT) AS n_chars,
              |       md5(substring(d.text, s, (e - s + 1)::INT)) AS chunk_md5
              |FROM ch JOIN documents d USING (doc_id)""".stripMargin)
    ),

    // ---- cross-doc chunk sharing: what CDC boundaries buy ----
    // Identical phrases in different documents chunk identically, so
    // sub-document duplication shows up as repeated chunk hashes
    // (2265 shared-chunk rows at sf0.01 — non-vacuous by measurement).
    QueryDef(
      "q_dedup_cdc_shared",
      "chunks occurring more than once corpus-wide (copy + doc counts)",
      (s, dir) =>
        graft.pipeline.Cdc.sharedChunks(Tables(s, dir).documents, "doc_id",
          col("text"), avgChunk = 32),
      Some(s"""WITH $cdcCtes,
              |cc AS (SELECT md5(substring(d.text, s, (e - s + 1)::INT)) AS chunk_md5, doc_id
              |       FROM ch JOIN documents d USING (doc_id))
              |SELECT chunk_md5, CAST(count(*) AS BIGINT) AS n_copies,
              |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
              |FROM cc GROUP BY chunk_md5 HAVING count(*) >= 2""".stripMargin)
    ),

    // ---- incremental CDC: a batch mined against the published
    // chunk-hash index — the O(batch) ingestion leg of
    // q_dedup_cdc_shared (batch chunking + one narrow-index join;
    // corpus text never re-reads). Oracle = the full-corpus shared
    // mine restricted to chunk hashes occurring in the batch, the
    // equivalence the additive count fold must preserve ----
    QueryDef(
      "q_dedup_cdc_incremental",
      "total shared-chunk counts for the doc_id%7=3 batch, via the published chunk index",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val corpus = docs.filter(col("doc_id") % 7 =!= 3)
        val batch = docs.filter(col("doc_id") % 7 === 3)
        val idxPath = SessionPublish.once(s, "dedup_cdc_idx|" + dir) {
          val p = SessionPublish.tempDir("graft-dedup-cdc") + "/index"
          graft.pipeline.Cdc.chunkIndex(corpus, "doc_id", col("text"), avgChunk = 32)
            .write.mode("overwrite").parquet(p)
          p
        }
        graft.pipeline.Cdc.sharedChunksIncremental(s.read.parquet(idxPath), batch,
          "doc_id", col("text"), avgChunk = 32)
      },
      Some(s"""WITH $cdcCtes,
              |cc AS (SELECT md5(substring(d.text, s, (e - s + 1)::INT)) AS chunk_md5, doc_id
              |       FROM ch JOIN documents d USING (doc_id)),
              |agg AS (SELECT chunk_md5, CAST(count(*) AS BIGINT) AS n_copies,
              |               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
              |        FROM cc GROUP BY chunk_md5),
              |bh AS (SELECT DISTINCT chunk_md5 FROM cc WHERE doc_id % 7 = 3)
              |SELECT a.chunk_md5, a.n_copies, a.n_docs
              |FROM agg a JOIN bh USING (chunk_md5) WHERE a.n_copies >= 2""".stripMargin)
    ),

    // ---- CDC chunk-store takedown: negated-count fold ----
    // The delete leg of the published chunk index: the tombstoned
    // docs (doc_id%5=0) re-chunk, their index folds back in NEGATED,
    // and zeroed rows drop — n_copies is a plain sum and n_docs a
    // distinct count over a corpus partition, so both subtract
    // exactly and the survivors must equal a from-scratch reindex of
    // the remaining docs bit-for-bit. O(index + tombstone batch);
    // the surviving corpus text never re-reads.
    QueryDef(
      "q_dedup_cdc_delete",
      "published chunk index after doc_id%5=0 takedown == reindex of the survivors",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val idxPath = SessionPublish.once(s, "dedup_cdc_full_idx|" + dir) {
          val p = SessionPublish.tempDir("graft-dedup-cdc-del") + "/index"
          graft.pipeline.Cdc.chunkIndex(docs, "doc_id", col("text"), avgChunk = 32)
            .write.mode("overwrite").parquet(p)
          p
        }
        graft.pipeline.Cdc.deleteFromChunkIndex(s.read.parquet(idxPath),
          docs.filter(col("doc_id") % 5 === 0), "doc_id", col("text"), avgChunk = 32)
      },
      Some(s"""WITH $cdcCtes,
              |cc AS (SELECT md5(substring(d.text, s, (e - s + 1)::INT)) AS chunk_md5, d.doc_id
              |       FROM ch JOIN documents d USING (doc_id) WHERE d.doc_id % 5 <> 0)
              |SELECT chunk_md5, CAST(count(*) AS BIGINT) AS n_copies,
              |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
              |FROM cc GROUP BY chunk_md5""".stripMargin)
    ),

    // ---- CDC chunk STORE: the negated-append tier ----
    // q_dedup_cdc_delete's fold computes in O(batch) but persists by
    // republish; the store persists SEGMENTS — publish evens, append
    // odds, take down doc_id%5=4 as one negated O(batch) segment
    // write (no published row rewritten, the LmIndex pattern at chunk
    // granularity) — and the read-side sum-groupBy must equal a
    // from-scratch reindex of the survivors, zeroed rows absent.
    QueryDef(
      "q_dedup_cdc_store",
      "chunk store read after publish+append+negated takedown == survivor reindex",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val path = SessionPublish.once(s, "dedup_cdc_store|" + dir) {
          val p = SessionPublish.tempDir("graft-dedup-cdc-store") + "/store"
          graft.pipeline.Cdc.publishChunkStore(docs.filter(col("doc_id") % 2 === 0),
            "doc_id", col("text"), avgChunk = 32, p)
          graft.pipeline.Cdc.appendChunkStore(docs.filter(col("doc_id") % 2 === 1),
            "doc_id", col("text"), p)
          graft.pipeline.Cdc.deleteFromChunkStore(docs.filter(col("doc_id") % 5 === 4),
            "doc_id", col("text"), p)
          p
        }
        graft.pipeline.Cdc.readChunkStore(s, path)
      },
      Some(s"""WITH $cdcCtes,
              |cc AS (SELECT md5(substring(d.text, s, (e - s + 1)::INT)) AS chunk_md5, d.doc_id
              |       FROM ch JOIN documents d USING (doc_id) WHERE d.doc_id % 5 <> 4)
              |SELECT chunk_md5, CAST(count(*) AS BIGINT) AS n_copies,
              |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
              |FROM cc GROUP BY chunk_md5""".stripMargin)
    ),

    // ---- CDC chunk store: versioned compaction ----
    // publish + append + negated takedown -> compactChunkStoreVersioned
    // (segments sum-merge once, zeroed rows drop, atomic pointer
    // flip). The compacted read must equal the same survivor reindex.
    QueryDef(
      "q_dedup_cdc_store_compact",
      "chunk store read via versioned compaction == survivor reindex",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val root = SessionPublish.once(s, "dedup_cdc_store_compact|" + dir) {
          val r = SessionPublish.tempDir("graft-dedup-cdc-store-compact") + "/store"
          graft.core.Versions.publish(r) { v1 =>
            graft.pipeline.Cdc.publishChunkStore(docs.filter(col("doc_id") % 2 === 0),
              "doc_id", col("text"), avgChunk = 32, v1)
            graft.pipeline.Cdc.appendChunkStore(docs.filter(col("doc_id") % 2 === 1),
              "doc_id", col("text"), v1)
            graft.pipeline.Cdc.deleteFromChunkStore(docs.filter(col("doc_id") % 5 === 1),
              "doc_id", col("text"), v1)
          }
          graft.pipeline.Cdc.compactChunkStoreVersioned(s, r): Unit
          r
        }
        graft.pipeline.Cdc.readChunkStore(s, graft.core.Versions.currentPath(root).get)
      },
      Some(s"""WITH $cdcCtes,
              |cc AS (SELECT md5(substring(d.text, s, (e - s + 1)::INT)) AS chunk_md5, d.doc_id
              |       FROM ch JOIN documents d USING (doc_id) WHERE d.doc_id % 5 <> 1)
              |SELECT chunk_md5, CAST(count(*) AS BIGINT) AS n_copies,
              |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
              |FROM cc GROUP BY chunk_md5""".stripMargin)
    )
  )

  /** CDC boundary + chunk-extent CTEs (window 8, base 31, mod 2^20,
    * avg chunk 32) — mirrors [[graft.pipeline.Cdc]] term-for-term.
    */
  private def cdcCtes: String = {
    val hterms = (0 until 8)
      .map(j => s"CAST(ascii(text[i-$j:i-$j]) AS BIGINT) * ${math.pow(31, j).toLong}")
      .mkString(" + ")
    s"""pos AS (SELECT doc_id, text, unnest(range(8, length(text)+1)) AS i FROM documents),
       |bnd AS (SELECT doc_id, i FROM pos WHERE (($hterms) % ${1L << 20}) % 32 = 0),
       |ebnd AS (SELECT DISTINCT doc_id, i FROM (SELECT doc_id, i FROM bnd
       |         UNION ALL SELECT doc_id, length(text) FROM documents WHERE length(text) > 0)),
       |ch AS (SELECT doc_id, i AS e,
       |              COALESCE(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) + 1 AS s,
       |              row_number() OVER (PARTITION BY doc_id ORDER BY i) AS chunk_idx
       |       FROM ebnd)""".stripMargin
  }
}
