package graft.llm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.Q

/** Driver-facing query entries for the LLM-pipeline operators.
  *
  * SQL-expressible ops carry a DuckDB oracle; the LSH/bucketed ops
  * (whose bucketing is engine-internal) are registered rows-only and
  * get exact verification in DedupSpec/SimilaritySpec instead —
  * pair-finding queries return aggregate summaries so the rows-only
  * check always sees ≥1 row.
  */
object LlmQueries {

  /** Exact-dup stats via SHA-256 content digest. */
  val dedupStats = Q(
    "dedup_exact_stats",
    (s, d) => Dedup.exactStats(Tables.documents(s, d)),
    Some("""SELECT COUNT(*) AS total_docs,
                   COUNT(DISTINCT sha256(text)) AS distinct_docs,
                   COUNT(*) - COUNT(DISTINCT sha256(text)) AS exact_dups
            FROM documents"""))

  /** Keep-one-per-content-group representatives. */
  val dedupKeep = Q(
    "dedup_exact_keep",
    (s, d) => Dedup.exactDedup(Tables.documents(s, d)).orderBy("keep_id"),
    Some("""SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
            FROM documents GROUP BY sha256(text) ORDER BY keep_id"""))

  /** MinHash+LSH near-dup summary, oracle-verified END TO END against
    * DuckDB's exact all-pairs Jaccard at the same threshold: any LSH
    * recall shortfall surfaces as an n_pairs/avg mismatch — that is
    * the point of the check. Bands are r=2 × b=32 here (vs the
    * operator's 32/8 default): at Jaccard 0.5 a pair collides in ≥1
    * band with p = 1-(1-0.5²)³² ≈ 0.9999, so on a non-adversarial
    * corpus the candidate set contains every qualifying pair, and the
    * exact-Jaccard verify keeps precision at 1 (false candidates cost
    * compute, never correctness). The oracle can afford all-pairs only
    * because the gate corpus is small; the engine path stays bucketed.
    */
  val nearDupMinhash = Q(
    "dedup_minhash_lsh",
    (s, d) =>
      Dedup.nearDupMinhash(Tables.documents(s, d), minJaccard = 0.5,
        numHashes = 64, bands = 32)
        .agg(
          count(lit(1)).as("n_pairs"),
          coalesce(round(avg(col("jaccard")), 4), lit(0.0)).as("avg_jaccard")),
    Some("""WITH sh AS (
              SELECT doc_id,
                CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
                  THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
                  ELSE list_distinct([array_to_string(string_split_regex(lower(trim(text)), '\s+')[i:i+2], ' ')
                        for i in range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1)])
                END AS s
              FROM documents),
            pairs AS (
              SELECT ROUND(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
                  ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                       CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) END, 4) AS jaccard
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
            SELECT COUNT(*) AS n_pairs,
                   COALESCE(ROUND(AVG(jaccard), 4), 0.0) AS avg_jaccard
            FROM pairs WHERE jaccard >= 0.5"""))

  /** Cross-source near-dup provenance
    * ([[Dedup.crossSourceDupStats]]): which source pairs share
    * near-duplicate content, and how strongly. Same r=2×b=32 recall
    * argument as `dedup_minhash_lsh`; the oracle recomputes exact
    * all-pairs Jaccard per unordered source pair. */
  val crossSourceDup = Q(
    "dedup_cross_source",
    (s, d) =>
      // GATE SURFACE: n_pairs + the integer-quantized jaccard sum.
      // avg_jaccard (kept in the operator API) hash-diverges between
      // engines when a group's mean lands on a ROUND(x,4) half-way —
      // observed at sf0.1: 4 of 148 groups flipped the last display
      // digit because Spark's and DuckDB's AVG produced doubles on
      // opposite sides of .xxxx5. The scaled integer sum has no such
      // boundary (see crossSourceDupStats scaladoc); readers derive
      // the mean as jaccard_sum_e4 / 1e4 / n_pairs.
      Dedup.crossSourceDupStats(Tables.documents(s, d))
        .select("source_x", "source_y", "n_pairs", "jaccard_sum_e4")
        .orderBy("source_x", "source_y"),
    Some("""WITH sh AS (
              SELECT doc_id, source,
                CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
                  THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
                  ELSE list_distinct([array_to_string(string_split_regex(lower(trim(text)), '\s+')[i:i+2], ' ')
                        for i in range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1)])
                END AS s
              FROM documents),
            pairs AS (
              SELECT a.source AS sa, b.source AS sb,
                     ROUND(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
                       ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                            CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) END, 4) AS jaccard
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
            SELECT least(sa, sb) AS source_x,
                   greatest(sa, sb) AS source_y,
                   COUNT(*) AS n_pairs,
                   CAST(ROUND(SUM(jaccard) * 10000) AS BIGINT) AS jaccard_sum_e4
            FROM pairs WHERE jaccard >= 0.5
            GROUP BY 1, 2 ORDER BY source_x, source_y"""))

  /** Source-level MinHash similarity matrix ([[Dedup
    * .sourceSimilarity]]): mergeable per-source signatures, pairwise
    * overlap estimate. Gate surface per the `a7x_approx_distinct`
    * pattern — the EXACT per-pair Jaccard (which DuckDB recomputes
    * from shingle sets) plus the deterministic `est_within_tol`
    * boolean the oracle asserts TRUE. */
  val sourceMatrixQ = Q(
    "dedup_source_matrix",
    (s, d) => Dedup.sourceSimilarity(Tables.documents(s, d)),
    Some("""WITH toks AS (
              SELECT source, string_split_regex(lower(trim(text)), '\s+')
                       AS t
              FROM documents),
            shx AS (
              SELECT source,
                unnest(CASE WHEN len(t) < 3
                  THEN [array_to_string(t, ' ')]
                  ELSE list_distinct([array_to_string(t[i:i+2], ' ')
                        for i in range(1, len(t) - 1)])
                END) AS sh
              FROM toks),
            sh AS (SELECT DISTINCT source AS src, sh FROM shx),
            sizes AS (SELECT src, COUNT(*) AS n_sh FROM sh GROUP BY src),
            inter AS (
              SELECT x.src AS sa, y.src AS sb, COUNT(*) AS inter
              FROM sh x JOIN sh y ON x.sh = y.sh AND x.src < y.src
              GROUP BY 1, 2),
            grid AS (
              SELECT a.src AS sa, b.src AS sb
              FROM sizes a JOIN sizes b ON a.src < b.src)
            SELECT g.sa AS source_x, g.sb AS source_y,
                   za.n_sh AS n_x, zb.n_sh AS n_y,
                   ROUND(CAST(coalesce(i.inter, 0) AS DOUBLE) /
                     (za.n_sh + zb.n_sh - coalesce(i.inter, 0)), 4)
                     AS j_exact,
                   TRUE AS est_within_tol
            FROM grid g
            JOIN sizes za ON za.src = g.sa
            JOIN sizes zb ON zb.src = g.sb
            LEFT JOIN inter i ON i.sa = g.sa AND i.sb = g.sb
            ORDER BY source_x, source_y"""))

  /** Embedding-snapshot drift ([[Drift.embeddingDrift]]): cluster-
    * share PSI of the odd-id snapshot against the even-id snapshot's
    * frozen centroids. Full row-level oracle — DuckDB re-derives both
    * assignments (round-6 argmax, lower-centroid ties) and every
    * smoothed PSI term. */
  val embDriftQ = Q(
    "emb_snapshot_drift",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      Drift.embeddingDrift(
        reference = e.filter(pmod(col("vec_id"), lit(2)) === 0),
        current = e.filter(pmod(col("vec_id"), lit(2)) === 1),
        k = 8)
    },
    Some("""WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
            ref AS (SELECT * FROM e WHERE vec_id % 2 = 0),
            cur AS (SELECT * FROM e WHERE vec_id % 2 = 1),
            c AS (
              SELECT vec_id AS c_id, v AS c_vec
              FROM ref ORDER BY vec_id LIMIT 8),
            aref AS (
              SELECT r.vec_id, c.c_id,
                     ROUND(list_cosine_similarity(r.v, c.c_vec), 6) AS cos
              FROM ref r CROSS JOIN c),
            bref AS (
              SELECT c_id, ROW_NUMBER() OVER (PARTITION BY vec_id
                ORDER BY cos DESC, c_id) AS rk
              FROM aref),
            nref AS (
              SELECT c_id, COUNT(*) AS n_ref FROM bref
              WHERE rk = 1 GROUP BY c_id),
            acur AS (
              SELECT r.vec_id, c.c_id,
                     ROUND(list_cosine_similarity(r.v, c.c_vec), 6) AS cos
              FROM cur r CROSS JOIN c),
            bcur AS (
              SELECT c_id, ROW_NUMBER() OVER (PARTITION BY vec_id
                ORDER BY cos DESC, c_id) AS rk
              FROM acur),
            ncur AS (
              SELECT c_id, COUNT(*) AS n_cur FROM bcur
              WHERE rk = 1 GROUP BY c_id),
            counts AS (
              SELECT c.c_id,
                     coalesce(nr.n_ref, 0) AS n_ref,
                     coalesce(nc.n_cur, 0) AS n_cur
              FROM c
              LEFT JOIN nref nr ON nr.c_id = c.c_id
              LEFT JOIN ncur nc ON nc.c_id = c.c_id),
            tot AS (
              SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur
              FROM counts)
            SELECT c_id AS centroid_id,
                   CAST(n_ref AS BIGINT) AS n_ref,
                   CAST(n_cur AS BIGINT) AS n_cur,
                   ROUND(
                     (((n_cur + 0.5) / (t_cur + 0.5 * 8)) -
                      ((n_ref + 0.5) / (t_ref + 0.5 * 8))) *
                     ln(((n_cur + 0.5) / (t_cur + 0.5 * 8)) /
                        ((n_ref + 0.5) / (t_ref + 0.5 * 8))), 6)
                     AS psi_term
            FROM counts, tot ORDER BY centroid_id"""))

  /** Directed containment pairs ([[Dedup.containmentPairs]]): the
    * asymmetric quotation/partial-copy detector — |S(a)∩S(b)|/|S(a)|
    * over df-capped 3-shingles. Full row-level oracle: DuckDB applies
    * the identical df cap, min-shingle floor, and single-division
    * rounding, so every pair, count, and score is recomputed. */
  val containmentPairsQ = Q(
    "dedup_containment",
    (s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d),
          minContainment = 0.8)
        .orderBy("id_a", "id_b"),
    Some("""WITH toks AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
              FROM documents),
            sh AS (
              SELECT doc_id,
                CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                  ELSE list_distinct([array_to_string(t[i:i+2], ' ')
                        for i in range(1, len(t) - 1)])
                END AS s
              FROM toks),
            ex AS (SELECT doc_id AS id, unnest(s) AS sh FROM sh),
            df AS (SELECT sh, COUNT(*) AS df FROM ex GROUP BY sh),
            kept AS (
              SELECT e.id, e.sh FROM ex e JOIN df USING (sh)
              WHERE df.df <= 1000),
            sizes AS (SELECT id, COUNT(*) AS n_a FROM kept GROUP BY id),
            pairs AS (
              SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS shared
              FROM kept x JOIN kept y ON x.sh = y.sh AND x.id <> y.id
              GROUP BY 1, 2)
            SELECT p.id_a, p.id_b, p.shared, s.n_a,
                   ROUND(CAST(p.shared AS DOUBLE) / s.n_a, 4) AS containment
            FROM pairs p JOIN sizes s ON s.id = p.id_a
            WHERE s.n_a >= 3
              AND ROUND(CAST(p.shared AS DOUBLE) / s.n_a, 4) >= 0.8
            ORDER BY id_a, id_b"""))

  /** The act step ([[Dedup.containmentDedup]]): drop every document
    * contained in a larger one (ties keep the lower id); kept-count +
    * id-sum pins exact membership. */
  val containmentDedupQ = Q(
    "dedup_containment_keep",
    (s, d) =>
      Dedup.containmentDedup(Tables.documents(s, d), minContainment = 0.8)
        .agg(
          count(lit(1)).as("n_kept"),
          coalesce(sum(col("doc_id")), lit(0L)).as("kept_id_sum")),
    Some("""WITH toks AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
              FROM documents),
            sh AS (
              SELECT doc_id,
                CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                  ELSE list_distinct([array_to_string(t[i:i+2], ' ')
                        for i in range(1, len(t) - 1)])
                END AS s
              FROM toks),
            ex AS (SELECT doc_id AS id, unnest(s) AS sh FROM sh),
            df AS (SELECT sh, COUNT(*) AS df FROM ex GROUP BY sh),
            kept AS (
              SELECT e.id, e.sh FROM ex e JOIN df USING (sh)
              WHERE df.df <= 1000),
            sizes AS (SELECT id, COUNT(*) AS n_a FROM kept GROUP BY id),
            pairs AS (
              SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS shared
              FROM kept x JOIN kept y ON x.sh = y.sh AND x.id <> y.id
              GROUP BY 1, 2),
            hits AS (
              SELECT p.id_a, p.id_b
              FROM pairs p JOIN sizes s ON s.id = p.id_a
              WHERE s.n_a >= 3
                AND ROUND(CAST(p.shared AS DOUBLE) / s.n_a, 4) >= 0.8),
            lens AS (
              SELECT doc_id, length(coalesce(text, '')) AS len
              FROM documents),
            dropped AS (
              SELECT DISTINCT h.id_a
              FROM hits h
              JOIN lens la ON la.doc_id = h.id_a
              JOIN lens lb ON lb.doc_id = h.id_b
              WHERE la.len < lb.len
                 OR (la.len = lb.len AND h.id_a > h.id_b))
            SELECT COUNT(*) AS n_kept,
                   CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS kept_id_sum
            FROM documents
            WHERE doc_id NOT IN (SELECT id_a FROM dropped)"""))

  /** SimHash near-dup with a planted ground truth (custom codegen
    * expression inside). The corpus is documents UNION exact copies at
    * shifted ids; an exact token-multiset copy has an identical SimHash
    * regardless of hash function, so the full band→bucket-join→
    * XOR-verify path MUST find every such pair at hamming 0 — the
    * DuckDB oracle recomputes that exact count by grouping on the
    * sorted token multiset (i.e. this query pins 100% recall on
    * identical-content pairs through the real simhash plan). Found
    * pairs are filtered to multiset-equal ones because the fixture
    * also contains genuine near-dups (one-token edits) whose hamming
    * happens to be 0 — correct simhash behavior, but hash-dependent
    * and thus not oracle-expressible; that discrimination behavior
    * (near close / unrelated far, threshold sweeps) is pinned by
    * DedupSpec instead. */
  val nearDupSimhash = Q(
    "dedup_simhash",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(
        docs.select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
      val toks = corpus.select(col("doc_id"),
        sort_array(split(lower(trim(col("text"))), "\\s+")).as("toks"))
      Dedup.nearDupSimhash(corpus, maxHamming = 0)
        .join(toks.select(col("doc_id").as("id_a"), col("toks").as("t_a")),
          Seq("id_a"))
        .join(toks.select(col("doc_id").as("id_b"), col("toks").as("t_b")),
          Seq("id_b"))
        .filter(col("t_a") === col("t_b"))
        .agg(
          count(lit(1)).as("n_pairs"),
          coalesce(round(avg(col("hamming")), 4), lit(0.0)).as("avg_hamming"))
    },
    Some("""WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents),
            keyed AS (
              SELECT array_to_string(
                       list_sort(string_split_regex(lower(trim(text)), '\s+')),
                       chr(1)) AS k
              FROM corpus),
            g AS (SELECT k, COUNT(*) AS c FROM keyed GROUP BY k)
            SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS n_pairs,
                   0.0 AS avg_hamming
            FROM g"""))

  /** Near-dup cluster formation: LSH pairs → connected components →
    * summary. The oracle recomputes the EXACT pair graph (all-pairs
    * Jaccard, affordable only at gate scale) and labels components
    * with a recursive min-label walk — so both the pair recall AND
    * the cluster algebra are checked end to end. */
  val dedupClusters = Q(
    "dedup_clusters",
    (s, d) =>
      Dedup.dupClusterStats(Tables.documents(s, d), minJaccard = 0.5),
    Some("""WITH RECURSIVE sh AS (
              SELECT doc_id,
                CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
                  THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
                  ELSE list_distinct([array_to_string(string_split_regex(lower(trim(text)), '\s+')[i:i+2], ' ')
                        for i in range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1)])
                END AS s
              FROM documents),
            prs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
                    ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                         CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE)
                    END >= 0.5),
            edges AS (
              SELECT id_a AS u, id_b AS v FROM prs
              UNION ALL SELECT id_b, id_a FROM prs),
            nds AS (SELECT DISTINCT u AS id FROM edges),
            walk(id, reach) AS (
              SELECT id, id FROM nds
              UNION
              SELECT e.v, w.reach FROM walk w JOIN edges e ON e.u = w.id),
            lbl AS (SELECT id, MIN(reach) AS cluster FROM walk GROUP BY id),
            cl AS (SELECT cluster, COUNT(*) AS sz FROM lbl GROUP BY cluster)
            SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
                   COUNT(*) AS n_clusters,
                   CAST(COALESCE(SUM(sz), 0) AS BIGINT) AS n_clustered_docs,
                   CAST(COALESCE(MAX(sz), 0) AS BIGINT) AS max_cluster
            FROM cl"""))

  /** Threshold sweep from ONE candidate pass: pair counts at 0.5–0.9
    * from the exact-Jaccard verify of the 0.5-threshold candidates
    * (every pair ≥0.5 is a candidate at r=2×b=32, so higher-threshold
    * counts are exact too). The sweep a curation engineer runs to
    * pick a threshold costs one LSH pass, not five. */
  val dedupSweep = Q(
    "dedup_threshold_sweep",
    (s, d) => {
      val pairs = Dedup.nearDupMinhash(Tables.documents(s, d),
        minJaccard = 0.5, numHashes = 64, bands = 32)
      pairs.agg(
        count(lit(1)).as("ge_050"),
        count(when(col("jaccard") >= 0.6, 1)).as("ge_060"),
        count(when(col("jaccard") >= 0.7, 1)).as("ge_070"),
        count(when(col("jaccard") >= 0.8, 1)).as("ge_080"),
        count(when(col("jaccard") >= 0.9, 1)).as("ge_090"))
    },
    Some("""WITH sh AS (
              SELECT doc_id,
                CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
                  THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
                  ELSE list_distinct([array_to_string(string_split_regex(lower(trim(text)), '\s+')[i:i+2], ' ')
                        for i in range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1)])
                END AS s
              FROM documents),
            prs AS (
              SELECT ROUND(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
                  ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                       CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) END, 4) AS j
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
            SELECT COUNT(CASE WHEN j >= 0.5 THEN 1 END) AS ge_050,
                   COUNT(CASE WHEN j >= 0.6 THEN 1 END) AS ge_060,
                   COUNT(CASE WHEN j >= 0.7 THEN 1 END) AS ge_070,
                   COUNT(CASE WHEN j >= 0.8 THEN 1 END) AS ge_080,
                   COUNT(CASE WHEN j >= 0.9 THEN 1 END) AS ge_090
            FROM prs"""))

  /** Keep-one-per-cluster corpus: survivors are min-id keepers plus
    * unclustered docs. Oracle reuses the recursive component walk and
    * subtracts non-keeper clustered ids from the corpus. */
  val dedupClusterKeep = Q(
    "dedup_cluster_keep",
    (s, d) =>
      Dedup.clusterDedup(Tables.documents(s, d), minJaccard = 0.5)
        .agg(
          count(lit(1)).as("n_kept"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"),
          sum(col("doc_id")).as("id_sum")),
    Some("""WITH RECURSIVE sh AS (
              SELECT doc_id,
                CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
                  THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
                  ELSE list_distinct([array_to_string(string_split_regex(lower(trim(text)), '\s+')[i:i+2], ' ')
                        for i in range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1)])
                END AS s
              FROM documents),
            prs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
                    ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                         CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE)
                    END >= 0.5),
            edges AS (
              SELECT id_a AS u, id_b AS v FROM prs
              UNION ALL SELECT id_b, id_a FROM prs),
            nds AS (SELECT DISTINCT u AS id FROM edges),
            walk(id, reach) AS (
              SELECT id, id FROM nds
              UNION
              SELECT e.v, w.reach FROM walk w JOIN edges e ON e.u = w.id),
            lbl AS (SELECT id, MIN(reach) AS cluster FROM walk GROUP BY id),
            kept AS (
              SELECT doc_id FROM documents
              WHERE doc_id NOT IN (SELECT id FROM lbl WHERE id <> cluster))
            SELECT COUNT(*) AS n_kept, MIN(doc_id) AS min_id,
                   MAX(doc_id) AS max_id,
                   CAST(SUM(doc_id) AS BIGINT) AS id_sum
            FROM kept"""))

  /** n-gram Jaccard verifier standalone: exact Jaccard over a
    * deterministic pair list (adjacent doc ids). The oracle rebuilds
    * the 3-word shingle sets with DuckDB list comprehensions —
    * WordShingles semantics exactly (distinct shingles, <k tokens →
    * one whole-text shingle). */
  val ngramJaccard = Q(
    "dedup_ngram_jaccard",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = docs.select(
        col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      Dedup.ngramJaccardPairs(docs, pairs)
        .agg(
          count(lit(1)).as("n_pairs"),
          coalesce(round(avg(col("jaccard")), 4), lit(0.0)).as("avg_jaccard"),
          coalesce(round(max(col("jaccard")), 4), lit(0.0)).as("max_jaccard"))
    },
    Some("""WITH sh AS (
              SELECT doc_id,
                CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
                  THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
                  ELSE list_distinct([array_to_string(string_split_regex(lower(trim(text)), '\s+')[i:i+2], ' ')
                        for i in range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1)])
                END AS s
              FROM documents),
            pairs AS (
              SELECT ROUND(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
                  ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                       CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) END, 4) AS jaccard
              FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1)
            SELECT COUNT(*) AS n_pairs,
                   COALESCE(ROUND(AVG(jaccard), 4), 0.0) AS avg_jaccard,
                   COALESCE(ROUND(MAX(jaccard), 4), 0.0) AS max_jaccard
            FROM pairs"""))

  /** Brute-force cosine top-10 vs vec_id=0 — the exact ANN baseline,
    * oracle-checked against DuckDB's list_cosine_similarity. */
  val annBrute = Q(
    "ann_cosine_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_vec"))
      Similarity.bruteForceTopK(emb, query, k = 10, excludeId = 0L)
    },
    Some("""SELECT e.vec_id,
                   ROUND(list_cosine_similarity(
                     CAST(e.embedding AS DOUBLE[]),
                     CAST(q.embedding AS DOUBLE[])), 4) AS cos_sim
            FROM embeddings e,
                 (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            WHERE e.vec_id <> 0
            ORDER BY cos_sim DESC, e.vec_id LIMIT 10"""))

  /** Multi-table random-hyperplane LSH ANN (scale path). The raw
    * top-k rows are hash-dependent, so the gate row is a
    * superset-prune audit: the LSH top-10 (k_returned) must sit
    * entirely inside the exact brute-force top-100
    * (n_outside_bf_top100 = 0 — the hyperplane seed is fixed, so this
    * is deterministic; probed at sf0.001 and sf0.01, where even
    * K′=50 suffices), emitted alongside brute-force values (the
    * top-100 threshold and the top-1 cosine) that DuckDB genuinely
    * recomputes via list_cosine_similarity. Row-level LSH behavior is
    * pinned by ann_lsh_planted (planted ground truth) and
    * SimilaritySpec's recall assertion. */
  val annLsh = Q(
    "ann_lsh_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_vec"))
      val lsh = Similarity.lshTopK(emb, query, k = 10, excludeId = 0L)
      val bf = Similarity.bruteForceTopK(emb, query, k = 100, excludeId = 0L)
      val outside = lsh.join(bf.select("vec_id"), Seq("vec_id"), "left_anti")
      lsh.agg(count(lit(1)).as("k_returned"))
        .crossJoin(broadcast(
          outside.agg(count(lit(1)).as("n_outside_bf_top100"))))
        .crossJoin(broadcast(bf.agg(
          round(min(col("cos_sim")), 4).as("bf_top100_threshold"),
          round(max(col("cos_sim")), 4).as("bf_top1_cos"))))
    },
    Some("""WITH bf AS (
              SELECT e.vec_id,
                     ROUND(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(q.embedding AS DOUBLE[])), 4) AS cos_sim
              FROM embeddings e,
                   (SELECT embedding FROM embeddings WHERE vec_id = 0) q
              WHERE e.vec_id <> 0
              ORDER BY cos_sim DESC, e.vec_id LIMIT 100)
            SELECT CAST(10 AS BIGINT) AS k_returned,
                   CAST(0 AS BIGINT) AS n_outside_bf_top100,
                   ROUND(MIN(cos_sim), 4) AS bf_top100_threshold,
                   ROUND(MAX(cos_sim), 4) AS bf_top1_cos
            FROM bf"""))

  /** LSH ANN with a planted ground truth: an exact copy of the query
    * vector is planted at vec_id 1000000. Identical vectors share a
    * bucket in every hash table regardless of the hyperplane seed, so
    * the full explode→bucket-join→exact-rescore path MUST return the
    * planted copy as top-1 at cosine 1 — which makes top-1 (unlike the
    * hash-dependent tail of the top-k, pinned by SimilaritySpec's
    * recall test) oracle-expressible. */
  val annLshPlanted = Q(
    "ann_lsh_planted",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_vec"))
      val corpus = emb.unionByName(
        emb.filter(col("vec_id") === 0)
          .select(lit(1000000L).as("vec_id"), col("embedding")))
      Similarity.lshTopK(corpus, query, k = 1, excludeId = 0L)
    },
    Some("""SELECT CAST(1000000 AS BIGINT) AS vec_id, 1.0 AS cos_sim"""))

  /** IVF ANN audit — the second scale path beside LSH. Deterministic
    * ivf-lite index (centroids = first 8 vectors by id, broadcast;
    * assignment = argmax cosine, no shuffle of the big side), probe the
    * 4 best lists. Gate row mirrors `ann_lsh_topk`'s superset-prune:
    * the IVF top-10 must sit inside the exact brute-force top-100
    * (deterministic — probed at sf0.001/sf0.01), alongside brute-force
    * values DuckDB genuinely recomputes. The kmeans-centroid variant
    * (`ivfKmeansAssign`) shares this query path and is pinned by
    * SimilaritySpec recall tests. */
  val annIvf = Q(
    "ann_ivf_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_vec"))
      val indexed = Similarity.ivfAssign(emb, nlist = 8)
      val ivf = Similarity.ivfTopK(indexed, query, k = 10, nprobe = 4,
        excludeId = 0L)
      val bf = Similarity.bruteForceTopK(emb, query, k = 100, excludeId = 0L)
      val outside = ivf.join(bf.select("vec_id"), Seq("vec_id"), "left_anti")
      ivf.agg(count(lit(1)).as("k_returned"))
        .crossJoin(broadcast(
          outside.agg(count(lit(1)).as("n_outside_bf_top100"))))
        .crossJoin(broadcast(bf.agg(
          round(min(col("cos_sim")), 4).as("bf_top100_threshold"),
          round(max(col("cos_sim")), 4).as("bf_top1_cos"))))
    },
    Some("""WITH bf AS (
              SELECT e.vec_id,
                     ROUND(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(q.embedding AS DOUBLE[])), 4) AS cos_sim
              FROM embeddings e,
                   (SELECT embedding FROM embeddings WHERE vec_id = 0) q
              WHERE e.vec_id <> 0
              ORDER BY cos_sim DESC, e.vec_id LIMIT 100)
            SELECT CAST(10 AS BIGINT) AS k_returned,
                   CAST(0 AS BIGINT) AS n_outside_bf_top100,
                   ROUND(MIN(cos_sim), 4) AS bf_top100_threshold,
                   ROUND(MAX(cos_sim), 4) AS bf_top1_cos
            FROM bf"""))

  /** IVF planted ground truth: an exact copy of the query vector lands
    * in the query's own best list (identical cosine to every centroid),
    * which is always the first list probed — so it MUST come back as
    * IVF top-1 at cosine 1. Row-level proof the probe path works. */
  val annIvfPlanted = Q(
    "ann_ivf_planted",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_vec"))
      val corpus = emb.unionByName(
        emb.filter(col("vec_id") === 0)
          .select(lit(1000000L).as("vec_id"), col("embedding")))
      val indexed = Similarity.ivfAssign(corpus, nlist = 8)
      Similarity.ivfTopK(indexed, query, k = 1, nprobe = 4, excludeId = 0L)
    },
    Some("""SELECT CAST(1000000 AS BIGINT) AS vec_id, 1.0 AS cos_sim"""))

  /** Batch k-NN join: exact top-3 neighbors for ten query vectors in
    * one plan (broadcast query batch, windowed per-query rank — the
    * corpus never shuffles vectors). Both engines rank on the ROUNDED
    * cosine with an id tie-break, so the rows are deterministic. */
  val annKnnJoin = Q(
    "ann_knn_join",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.knnJoin(queries, emb, k = 3)
        .orderBy("q_id", "rank")
    },
    Some("""SELECT q_id, vec_id, cos_sim, rank FROM (
              SELECT q.vec_id AS q_id, e.vec_id,
                     ROUND(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(q.embedding AS DOUBLE[])), 4) AS cos_sim,
                     ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ROUND(list_cosine_similarity(
                         CAST(e.embedding AS DOUBLE[]),
                         CAST(q.embedding AS DOUBLE[])), 4) DESC,
                         e.vec_id) AS rank
              FROM embeddings e,
                   (SELECT vec_id, embedding FROM embeddings
                    WHERE vec_id < 10) q
              WHERE e.vec_id <> q.vec_id) t
            WHERE rank <= 3 ORDER BY q_id, rank"""))

  /** ANN recall@10 audit ([[Similarity.ivfKnnJoin]] vs the exact
    * [[Similarity.knnJoin]]): for five query vectors, how much of the
    * true top-10 the IVF probe pruning retains at nprobe=2 of 4
    * lists — THE serving-quality metric for an approximate index
    * (speed claims without recall numbers are meaningless). FULL
    * row-level oracle: DuckDB re-trains both Lloyd rounds, re-ranks
    * each query's probes, re-derives both top-10 sets and every
    * overlap count. Zero-overlap queries emit 0 rows, not absence
    * (left join from the query set on both engines). */
  val annIvfRecall = Q(
    "ann_ivf_recall",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id").isin(1L, 3L, 5L, 7L, 9L))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val ivf = Similarity.ivfKnnJoin(queries, emb, k = 10,
        nlist = 4, iters = 2, nprobe = 2)
        .select("q_id", "vec_id")
      val exact = Similarity.knnJoin(queries, emb, k = 10)
        .select("q_id", "vec_id")
      val overlap = ivf.join(exact, Seq("q_id", "vec_id"))
        .groupBy("q_id").agg(count(lit(1)).as("n"))
      queries.select(col("q_id"))
        .join(overlap, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n"), lit(0L)).as("n_overlap"),
          round(coalesce(col("n"), lit(0L)).cast("double") / lit(10.0), 4)
            .as("recall_at_10"))
        .orderBy("q_id")
    },
    Some(s"""${kmeansAssignCtes(k = 4, iters = 2)},
        q AS (SELECT vec_id AS q_id, v AS qv FROM emb
              WHERE vec_id IN (1, 3, 5, 7, 9)),
        pr AS (SELECT q_id, cid FROM (
                 SELECT q.q_id, c.cid,
                        ROW_NUMBER() OVER (PARTITION BY q.q_id
                          ORDER BY round(
                            list_cosine_similarity(c.c, q.qv), 6) DESC,
                            c.cid) AS rk
                 FROM c2 c CROSS JOIN q)
               WHERE rk <= 2),
        ivfs AS (SELECT q.q_id, af.vec_id,
                        ROUND(list_cosine_similarity(af.v, q.qv), 4)
                          AS cos
                 FROM af JOIN pr ON af.cid = pr.cid
                 JOIN q ON q.q_id = pr.q_id
                 WHERE af.vec_id <> q.q_id),
        ivftop AS (SELECT q_id, vec_id FROM (
                     SELECT q_id, vec_id,
                            ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY cos DESC, vec_id) AS rk
                     FROM ivfs)
                   WHERE rk <= 10),
        bts AS (SELECT q.q_id, e.vec_id,
                       ROUND(list_cosine_similarity(e.v, q.qv), 4) AS cos
                FROM emb e CROSS JOIN q WHERE e.vec_id <> q.q_id),
        btop AS (SELECT q_id, vec_id FROM (
                   SELECT q_id, vec_id,
                          ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos DESC, vec_id) AS rk
                   FROM bts)
                 WHERE rk <= 10),
        ov AS (SELECT q_id, COUNT(*) AS n
               FROM ivftop JOIN btop USING (q_id, vec_id)
               GROUP BY q_id)
        SELECT q.q_id, CAST(COALESCE(ov.n, 0) AS BIGINT) AS n_overlap,
               ROUND(COALESCE(ov.n, 0) / 10.0, 4) AS recall_at_10
        FROM q LEFT JOIN ov USING (q_id)
        ORDER BY q_id"""))

  /** Per-label embedding centroids: posexplode to (label, dim) and
    * average. The ×64 row expansion collapses map-side (partial agg),
    * so the shuffle carries only labels × dims partial sums — the
    * class-prototype primitive (and the reduce step of a k-means
    * iteration) at any scale. */
  val embCentroids = Q(
    "emb_centroids",
    (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "e")))
        .groupBy(col("label"), (col("pos0") + 1).cast("long").as("dim"))
        .agg(round(avg(col("e")), 6).as("centroid"),
          count(lit(1)).as("n_vecs"))
        .orderBy("label", "dim"),
    Some("""SELECT label, CAST(pos AS BIGINT) AS dim,
                   ROUND(AVG(e), 6) AS centroid,
                   COUNT(*) AS n_vecs
            FROM (SELECT label,
                         unnest(embedding) AS e,
                         unnest(generate_series(1, len(embedding))) AS pos
                  FROM embeddings)
            GROUP BY label, pos ORDER BY label, dim"""))

  /** Unrolled DuckDB twin of [[Similarity.kmeansLloyd]] — kept in
    * lockstep with the engine's (k, iters) by generating one CTE
    * chain per Lloyd round: assignment = row_number over
    * `(round(cos,6) DESC, cid)`, update = per-position round-6 mean
    * with a COALESCE empty-cluster keep, exactly the engine contract.
    * Vectors cast to DOUBLE[] on both engines so the cosine is the
    * same IEEE arithmetic. */
  private def kmeansAssignCtes(k: Int, iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""s$i AS (SELECT e.vec_id, e.v, c.cid,
                        round(list_cosine_similarity(e.v, c.c), 6) AS cos
                 FROM emb e CROSS JOIN c${i - 1} c),
          a$i AS (SELECT vec_id, v, cid FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY cos DESC, cid) AS rn FROM s$i)
                  WHERE rn = 1),
          m$i AS (SELECT cid, pos, ROUND(AVG(e), 6) AS m
                  FROM (SELECT cid, unnest(v) AS e,
                               unnest(generate_series(1, len(v))) AS pos
                        FROM a$i)
                  GROUP BY cid, pos),
          n$i AS (SELECT cid, list(m ORDER BY pos) AS c
                  FROM m$i GROUP BY cid),
          c$i AS (SELECT p.cid, coalesce(n.c, p.c) AS c
                  FROM c${i - 1} p LEFT JOIN n$i n USING (cid))"""
    }.mkString(",\n")
    s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v
                     FROM embeddings),
        c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
                        AS BIGINT) AS cid, v AS c
               FROM (SELECT vec_id, v FROM emb
                     ORDER BY vec_id LIMIT $k)),
        $rounds,
        sf AS (SELECT e.vec_id, e.v, c.cid,
                      round(list_cosine_similarity(e.v, c.c), 6) AS cos
               FROM emb e CROSS JOIN c$iters c),
        af AS (SELECT vec_id, v, cid, cos FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, cid) AS rn FROM sf)
               WHERE rn = 1)"""
  }

  private def kmeansOracleSql(k: Int, iters: Int): String =
    s"""${kmeansAssignCtes(k, iters)}
        SELECT cid AS cluster_id, COUNT(*) AS n_vecs,
               ROUND(AVG(cos), 4) AS avg_cos
        FROM af GROUP BY cid ORDER BY cluster_id"""

  private def kmeansBalancedOracleSql(k: Int, iters: Int, cap: Int): String =
    s"""${kmeansAssignCtes(k, iters)},
        ranked AS (SELECT cid, vec_id,
                          row_number() OVER (PARTITION BY cid
                            ORDER BY cos DESC, vec_id) AS rk
                   FROM af)
        SELECT cid AS cluster_id, COUNT(*) AS n_vecs,
               COUNT(CASE WHEN rk <= $cap THEN 1 END) AS n_kept,
               CAST(COALESCE(SUM(CASE WHEN rk <= $cap THEN vec_id END), 0)
                    AS BIGINT) AS kept_id_sum
        FROM ranked GROUP BY cid ORDER BY cluster_id"""

  /** Trained clustering ([[Similarity.kmeansLloyd]]): 2 full Lloyd
    * rounds from the deterministic lowest-id init, then the final
    * assignment profile. The oracle re-runs BOTH rounds — init,
    * argmax assignment, round-6 centroid means, empty-cluster keep —
    * so the iterative training loop itself is what's verified, not
    * just a fixed assignment (that's `emb_cluster_profile`). */
  val kmeansQ = Q(
    "emb_kmeans",
    (s, d) =>
      Similarity.kmeansLloyd(Tables.embeddings(s, d), k = 4, iters = 2),
    Some(kmeansOracleSql(k = 4, iters = 2)))

  /** Cluster-balanced subsample ([[Similarity.kmeansBalancedSample]]):
    * cap each trained cluster at 60 members, keep the most
    * prototypical (highest cosine-to-centroid, lower-id ties). The
    * oracle re-trains the same 2 Lloyd rounds, re-ranks every cluster
    * with a window, and pins the kept MEMBERSHIP via the id sum — so
    * the heap-based engine path (bounded `collect_top_k`, no corpus
    * through the exchange) is checked against the exhaustive rank. */
  val kmeansBalancedQ = Q(
    "emb_kmeans_balanced",
    (s, d) =>
      Similarity.kmeansBalancedSample(Tables.embeddings(s, d),
        k = 4, iters = 2, maxPerCluster = 60),
    Some(kmeansBalancedOracleSql(k = 4, iters = 2, cap = 60)))

  /** Cluster label purity ([[Similarity.clusterPurity]]): per trained
    * cluster, the majority label's share of members — the sanity
    * audit a pipeline runs before trusting cluster-scoped decisions
    * (balanced sampling, SemDeDup, routing). The oracle re-trains the
    * same 2 Lloyd rounds, joins the stored labels, and re-derives
    * every cluster's mode (ties to the LOWER label) and purity
    * ratio. */
  val clusterPurityQ = Q(
    "emb_cluster_purity",
    (s, d) =>
      Similarity.clusterPurity(Tables.embeddings(s, d), k = 4, iters = 2),
    Some(s"""${kmeansAssignCtes(k = 4, iters = 2)},
        lab AS (SELECT af.cid, CAST(e.label AS BIGINT) AS label
                FROM af JOIN embeddings e USING (vec_id)),
        cnt AS (SELECT cid, label, COUNT(*) AS n
                FROM lab GROUP BY cid, label),
        best AS (SELECT cid, label, n,
                        ROW_NUMBER() OVER (PARTITION BY cid
                          ORDER BY n DESC, label) AS rk
                 FROM cnt),
        tot AS (SELECT cid, CAST(SUM(n) AS BIGINT) AS n_vecs
                FROM cnt GROUP BY cid)
        SELECT t.cid AS cluster_id, tot.n_vecs,
               t.label AS majority_label,
               CAST(t.n AS BIGINT) AS n_majority,
               ROUND(CAST(t.n AS DOUBLE) / CAST(tot.n_vecs AS DOUBLE), 4)
                 AS purity
        FROM (SELECT * FROM best WHERE rk = 1) t JOIN tot USING (cid)
        ORDER BY cluster_id"""))

  /** Row-level trained assignment ([[Similarity.kmeansAssign]]) — the
    * batch twin of the streaming cluster router's output surface
    * (`Incremental.routeStream` applies the SAME frozen-assigner
    * body per micro-batch; StreamingSpec pins stream ≡ batch). Emits
    * only the DECISION surface (id, cluster) — the cosine stays in
    * the operator API, per the float-hashing contract. */
  val kmeansAssignQ = Q(
    "emb_kmeans_assign",
    (s, d) =>
      Similarity.kmeansAssign(Tables.embeddings(s, d), k = 4, iters = 2)
        .select(col("vec_id"), col("cluster_id"))
        .orderBy("vec_id"),
    Some(s"""${kmeansAssignCtes(k = 4, iters = 2)}
        SELECT vec_id, cid AS cluster_id FROM af ORDER BY vec_id"""))

  /** Trained-IVF ANN ([[Similarity.ivfTrainedTopK]]): Lloyd-trained
    * centroids, probe the 2 best lists, exact top-10 — ROW-LEVEL
    * oracle, not a gate: DuckDB re-trains both Lloyd rounds, re-ranks
    * the probes, and re-scores every probed-list vector, so ids,
    * cosines, ordering and the probe pruning are all checked. */
  val annIvfTrained = Q(
    "ann_ivf_trained",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_vec"))
      Similarity.ivfTrainedTopK(emb, query, k = 10, nlist = 4,
        iters = 2, nprobe = 2, excludeId = 0L)
    },
    Some(s"""${kmeansAssignCtes(k = 4, iters = 2)},
        qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id = 0),
        probe AS (SELECT cid FROM (
                    SELECT c.cid,
                           round(list_cosine_similarity(c.c, q.v), 6)
                             AS qc
                    FROM c2 c CROSS JOIN qv q)
                  ORDER BY qc DESC, cid LIMIT 2)
        SELECT af.vec_id,
               round(list_cosine_similarity(af.v, q.v), 4) AS cos_sim
        FROM af JOIN probe USING (cid) CROSS JOIN qv q
        WHERE af.vec_id <> 0
        ORDER BY cos_sim DESC, af.vec_id LIMIT 10"""))

  /** Embedding validation profile: per-label count + squared-norm
    * stats through the codegen `array_dot` (one pass, no shuffle
    * beyond the label combine) — the "are these vectors normalized"
    * pre-flight every embedding pipeline needs. */
  val embNormProfile = Q(
    "emb_norm_profile",
    (s, d) => {
      graft.functions.GraftFunctions.register(s)
      Tables.embeddings(s, d)
        .select(col("label"),
          Similarity.dot(col("embedding"), col("embedding")).as("sqnorm"))
        .groupBy("label")
        .agg(
          count(lit(1)).as("n_vecs"),
          round(avg(col("sqnorm")), 6).as("avg_sqnorm"),
          round(min(col("sqnorm")), 6).as("min_sqnorm"),
          round(max(col("sqnorm")), 6).as("max_sqnorm"))
        .orderBy("label")
    },
    Some("""SELECT label, COUNT(*) AS n_vecs,
                   ROUND(AVG(sq), 6) AS avg_sqnorm,
                   ROUND(MIN(sq), 6) AS min_sqnorm,
                   ROUND(MAX(sq), 6) AS max_sqnorm
            FROM (SELECT label,
                         list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[])) AS sq
                  FROM embeddings)
            GROUP BY label ORDER BY label"""))

  /** The rolling text_hash re-implemented in DuckDB SQL (list_reduce
    * over character codes) — lets the oracle verify hash-derived
    * bucketing bit-for-bit. */
  private def duckdbTextHash(sqlExpr: String): String =
    s"""list_reduce(
          list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split_regex($sqlExpr, ''),
                           c -> CAST(ascii(c) AS BIGINT))),
          (acc, x) -> (acc * 131 + x) % 2147483647)"""

  /** `Retrieval.hashEmbed`'s 16-dim hashed term-count vector in DuckDB
    * SQL, over a token-list expression — shared by the hybrid and MMR
    * oracles. */
  private def duckdbHashVec(toksExpr: String): String =
    s"""[CAST(len(list_filter([${duckdbTextHash("tok")} % 16
               for tok in $toksExpr], h -> h = j)) AS DOUBLE)
             for j in range(0, 16)]"""

  /** Deterministic id-hash train/val/test split (80/10/10): stable
    * across runs and partitionings, so no document ever migrates
    * between train and test on re-processing. */
  val splitCounts = Q(
    "split_train_val_test",
    (s, d) => Sampling.splitCounts(Tables.documents(s, d)),
    Some(s"""WITH h AS (
               SELECT ${duckdbTextHash("CAST(doc_id AS VARCHAR)")} % 100 AS b
               FROM documents)
             SELECT CASE WHEN b < 80 THEN 'train'
                         WHEN b < 90 THEN 'val'
                         ELSE 'test' END AS split,
                    COUNT(*) AS n_docs
             FROM h GROUP BY 1 ORDER BY split"""))

  /** Stratified deterministic downsample: 50% of en, 100% of de,
    * 25% of zh, drop the rest — the data-mixing primitive; same
    * salted id-hash on both engines. */
  val stratSample = Q(
    "strat_sample_mix",
    (s, d) =>
      Sampling.stratifiedSample(Tables.documents(s, d), "lang",
          Map("en" -> 0.5, "de" -> 1.0, "zh" -> 0.25))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_id"))
        .orderBy("lang"),
    Some(s"""WITH h AS (
               SELECT lang, doc_id,
                      ${duckdbTextHash(
                        "CAST(doc_id AS VARCHAR) || '#strat'")} % 10000 AS b
               FROM documents)
             SELECT lang, COUNT(*) AS n_docs, MIN(doc_id) AS min_id
             FROM h
             WHERE (lang = 'en' AND b < 5000)
                OR (lang = 'de' AND b < 10000)
                OR (lang = 'zh' AND b < 2500)
             GROUP BY lang ORDER BY lang"""))

  /** Per-source domain cap ([[Sampling.capPerSource]]): every source
    * keeps at most 40 documents, chosen by deterministic salted-hash
    * order, never rand(). The oracle recomputes the identical hash
    * and the per-source rank, and pins exact membership via the kept
    * id-sum — a different winner set with the right count would still
    * fail. */
  val capPerSourceQ = Q(
    "sample_cap_per_source",
    (s, d) =>
      Sampling.capPerSource(Tables.documents(s, d), maxDocs = 40)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy("source"),
    Some(s"""WITH h AS (
               SELECT source, doc_id,
                      ${duckdbTextHash(
                        "CAST(doc_id AS VARCHAR) || '#cap'")} AS hh
               FROM documents),
             kept AS (
               SELECT source, doc_id FROM h
               QUALIFY row_number() OVER (
                 PARTITION BY source ORDER BY hh, doc_id) <= 40)
             SELECT source, COUNT(*) AS n_docs,
                    CAST(SUM(doc_id) AS BIGINT) AS id_sum
             FROM kept GROUP BY source ORDER BY source"""))

  /** Leakage-safe split ([[Sampling.leakageSafeSplit]]): split key is
    * the near-dup component label, so a duplicate family can never
    * straddle train and test. The oracle recomputes the components
    * over the EXACT pair graph (the `dedup_clusters` recursive CTE —
    * same recall argument) and the split via the same rolling hash on
    * `coalesce(cluster, doc_id)` — assignment mechanism checked
    * bit-for-bit, per split. */
  val leakageSplit = Q(
    "split_leakage_safe",
    (s, d) =>
      Sampling.leakageSafeSplit(Tables.documents(s, d))
        .groupBy("split")
        .agg(
          count(lit(1)).as("n_docs"),
          count(col("cluster")).as("n_clustered_docs"))
        .orderBy("split"),
    Some(s"""WITH RECURSIVE sh AS (
              SELECT doc_id,
                CASE WHEN len(string_split_regex(lower(trim(text)), '\\s+')) < 3
                  THEN [array_to_string(string_split_regex(lower(trim(text)), '\\s+'), ' ')]
                  ELSE list_distinct([array_to_string(string_split_regex(lower(trim(text)), '\\s+')[i:i+2], ' ')
                        for i in range(1, len(string_split_regex(lower(trim(text)), '\\s+')) - 1)])
                END AS s
              FROM documents),
            prs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
                    ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                         CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE)
                    END >= 0.5),
            edges AS (
              SELECT id_a AS u, id_b AS v FROM prs
              UNION ALL SELECT id_b, id_a FROM prs),
            nds AS (SELECT DISTINCT u AS id FROM edges),
            walk(id, reach) AS (
              SELECT id, id FROM nds
              UNION
              SELECT e.v, w.reach FROM walk w JOIN edges e ON e.u = w.id),
            lbl AS (SELECT id, MIN(reach) AS cluster FROM walk GROUP BY id),
            keyed AS (
              SELECT d.doc_id, l.cluster,
                     ${duckdbTextHash(
                       "CAST(coalesce(l.cluster, d.doc_id) AS VARCHAR)")}
                       % 100 AS b
              FROM documents d LEFT JOIN lbl l ON l.id = d.doc_id)
            SELECT CASE WHEN b < 80 THEN 'train'
                        WHEN b < 90 THEN 'val'
                        ELSE 'test' END AS split,
                   COUNT(*) AS n_docs,
                   COUNT(cluster) AS n_clustered_docs
            FROM keyed GROUP BY 1 ORDER BY split"""))

  /** Epoch-seeded training order ([[Sampling.trainingOrder]]): the
    * per-shard audit — doc counts prove balance, key sums prove the
    * permutation assignment bit-for-bit (any wrong hash moves some
    * key between shards and both sums break). */
  val epochOrder = Q(
    "shuffle_epoch_order",
    (s, d) =>
      Sampling.trainingOrder(Tables.documents(s, d), seed = "epoch0",
          numShards = 8)
        .groupBy("shard")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("sort_key")).as("sum_key"),
          min(col("sort_key")).as("min_key"))
        .orderBy("shard"),
    Some(s"""WITH k AS (
              SELECT ${duckdbTextHash(
                "'epoch0' || '#ord' || CAST(doc_id AS VARCHAR)")}
                AS sort_key
              FROM documents)
            SELECT sort_key % 8 AS shard,
                   COUNT(*) AS n_docs,
                   CAST(SUM(sort_key) AS BIGINT) AS sum_key,
                   MIN(sort_key) AS min_key
            FROM k GROUP BY 1 ORDER BY shard"""))

  /** Token-budget mixture sampling ([[Sampling.tokenBudgetSample]]):
    * keep fractions derived from the data (`budget / source_tokens`)
    * in pure integer arithmetic, membership by salted id-hash — so
    * the oracle recomputes the exact same kept set, not an
    * approximation of it. */
  val budgetSample = Q(
    "sample_token_budget",
    (s, d) =>
      Sampling.tokenBudgetSample(Tables.documents(s, d), 800L)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs_kept"),
          sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens_kept"))
        .orderBy("source"),
    Some(s"""WITH t AS (
              SELECT doc_id, source,
                     CAST(len(string_split_regex(trim(text), '\\s+'))
                       AS BIGINT) AS n_tokens,
                     ${duckdbTextHash(
                       "CAST(doc_id AS VARCHAR) || '#budget'")} % 1000000
                       AS b
              FROM documents),
            thr AS (
              SELECT source,
                     least(1000000, 800 * 1000000 // SUM(n_tokens))
                       AS keep_threshold
              FROM t GROUP BY source)
            SELECT t.source, COUNT(*) AS n_docs_kept,
                   CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens_kept
            FROM t JOIN thr ON t.source = thr.source
            WHERE t.b < thr.keep_threshold
            GROUP BY t.source ORDER BY t.source"""))

  /** Per-vector int8 quantization profile ([[Quantize.int8Profile]]):
    * the oracle recomputes scale, every rounded code, and both error
    * stats per vector with the same ties-away-from-zero rounding and
    * the same left-fold summation order (`list_reduce` over a
    * 0.0-prepended list ≡ Spark's `aggregate` with 0.0 init), so
    * 500 rows of floating-point reconstruction math match to 9/12
    * decimals. */
  val quantizeInt8 = Q(
    "emb_quantize_int8",
    (s, d) =>
      Quantize.int8Profile(Tables.embeddings(s, d)).orderBy("vec_id"),
    Some("""WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
            m AS (
              SELECT vec_id, v,
                     list_max([abs(x) for x in v]) AS maxabs
              FROM e),
            s AS (
              SELECT vec_id, v, maxabs / 127.0 AS scale,
                     CASE WHEN maxabs = 0.0 THEN 1.0
                          ELSE maxabs / 127.0 END AS ss
              FROM m),
            er AS (
              SELECT vec_id, scale,
                     [abs(x - round(x / ss) * ss) for x in v] AS errs,
                     len(v) AS n
              FROM s)
            SELECT vec_id,
                   ROUND(scale, 9) AS scale,
                   ROUND(list_max(errs), 9) AS max_abs_err,
                   ROUND(list_reduce(
                           list_prepend(0.0, [e * e for e in errs]),
                           (a, b) -> a + b) / CAST(n AS DOUBLE), 12)
                     AS mse
            FROM er ORDER BY vec_id"""))

  /** Brute-force cosine top-10 over int8-DEQUANTIZED vectors — the
    * search an int8-backed ANN store actually runs. Dequantization
    * (`round(x/scale)·scale`) is exactly reproducible, so unlike the
    * LSH rows this is a full row-level oracle: DuckDB requantizes
    * every vector and recomputes the ranked cosine. Paired with
    * `ann_cosine_topk` (float baseline) it exposes exactly what 4×
    * compression does to this corpus's neighborhoods. */
  val annQuantized = Q(
    "ann_quantized_topk",
    (s, d) => {
      val dq = Quantize.int8Dequantize(Tables.embeddings(s, d))
      val query = dq.filter(col("vec_id") === 0)
        .select(col("dv").as("q_vec"))
      dq.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(query))
        .select(col("vec_id"),
          round(Similarity.cosine(col("dv"), col("q_vec")), 4)
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },
    Some("""WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
            m AS (
              SELECT vec_id, v,
                     list_max([abs(x) for x in v]) AS maxabs
              FROM e),
            dq AS (
              SELECT vec_id,
                     [round(x / (CASE WHEN maxabs = 0.0 THEN 1.0
                                      ELSE maxabs / 127.0 END))
                      * (CASE WHEN maxabs = 0.0 THEN 1.0
                              ELSE maxabs / 127.0 END)
                      for x in v] AS dv
              FROM m),
            q AS (SELECT dv FROM dq WHERE vec_id = 0)
            SELECT d.vec_id,
                   ROUND(list_cosine_similarity(d.dv, q.dv), 4) AS cos_sim
            FROM dq d, q
            WHERE d.vec_id <> 0
            ORDER BY cos_sim DESC, d.vec_id LIMIT 10"""))

  /** Temperature-weighted mixture sampling at α = 1/2
    * ([[Sampling.temperatureSample]]): big sources shrink toward the
    * budget harder than small ones (`keep ∝ 1/sqrt(share)`), the
    * multilingual smoothing step. The whole recipe is integer
    * arithmetic plus one correctly-rounded `sqrt`, so the oracle
    * rederives the exact kept set — `id_sum` pins membership, not
    * just counts. */
  val temperatureMix = Q(
    "sample_temperature_mix",
    (s, d) =>
      Sampling.temperatureSample(Tables.documents(s, d), 1200L)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs_kept"),
          sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens_kept"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy("source"),
    Some(s"""WITH t AS (
              SELECT doc_id, source,
                     CAST(len(string_split_regex(trim(text), '\\s+'))
                       AS BIGINT) AS n_tokens,
                     ${duckdbTextHash(
                       "CAST(doc_id AS VARCHAR) || '#temp'")} % 1000000
                       AS b
              FROM documents),
            per_src AS (
              SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
              FROM t GROUP BY source),
            tot AS (
              SELECT CAST(SUM(src_tokens) AS BIGINT) AS total_tokens
              FROM per_src),
            w AS (
              SELECT source, src_tokens,
                     CAST(floor(sqrt(CAST(
                       (src_tokens * 1000000 // total_tokens) * 1000000
                       AS DOUBLE))) AS BIGINT) AS w
              FROM per_src, tot),
            sw AS (SELECT CAST(SUM(w) AS BIGINT) AS sum_w FROM w),
            thr AS (
              SELECT source,
                     least(1000000,
                       (1200 * w // sum_w) * 1000000 // src_tokens)
                       AS keep_threshold
              FROM w, sw)
            SELECT t.source, COUNT(*) AS n_docs_kept,
                   CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens_kept,
                   CAST(SUM(t.doc_id) AS BIGINT) AS id_sum
            FROM t JOIN thr ON t.source = thr.source
            WHERE t.b < thr.keep_threshold
            GROUP BY t.source ORDER BY t.source"""))

  /** Embedding-cosine near-dup pairs, LSH-bucketed, with a planted
    * ground truth (same scheme as `dedup_simhash`): the corpus is
    * embeddings UNION exact copies at shifted ids. Identical vectors
    * get identical hyperplane signatures in EVERY table regardless of
    * the hash seed, so the real band→bucket-join→exact-cosine-verify
    * path MUST surface each planted pair at cosine 1 — the DuckDB
    * oracle recomputes that exact count by grouping on vector content.
    * Found pairs are filtered to vector-equal ones because LSH may
    * also (correctly) surface genuine near pairs, which are
    * hash-dependent and thus not oracle-expressible; recall/threshold
    * behavior on near-but-not-identical vectors is pinned by
    * SimilaritySpec's planted-pair test instead. The bucket cap can
    * never drop a planted pair here: `capBuckets` removes whole
    * buckets only above 4096 rows and the doubled corpus is smaller
    * than one cap. */
  val nearDupCosine = Q(
    "dedup_embedding_cosine",
    (s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val corpus = emb.unionByName(
        emb.select((col("vec_id") + lit(1000000L)).as("vec_id"),
          col("embedding")))
      Similarity.nearDupCosine(corpus, minCosine = 0.999)
        .join(corpus.select(col("vec_id").as("id_a"),
          col("embedding").as("v_a")), Seq("id_a"))
        .join(corpus.select(col("vec_id").as("id_b"),
          col("embedding").as("v_b")), Seq("id_b"))
        .filter(col("v_a") === col("v_b"))
        .agg(
          count(lit(1)).as("n_pairs"),
          coalesce(round(min(col("cos_sim")), 4), lit(0.0)).as("min_cos"))
    },
    Some("""WITH corpus AS (
              SELECT embedding FROM embeddings
              UNION ALL
              SELECT embedding FROM embeddings),
            g AS (SELECT embedding, COUNT(*) AS c FROM corpus
                  GROUP BY embedding)
            SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS n_pairs,
                   1.0 AS min_cos
            FROM g"""))

  /** Token counting (whitespace). */
  val textTokens = Q(
    "text_tokens",
    (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_c"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_subwords"))
        .orderBy("doc_id")
        .limit(500),
    Some("""SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars_c,
                   CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                     AS n_tokens,
                   CAST(len(regexp_extract_all(text,
                     '[a-z]{1,4}|[A-Z][a-z]{0,3}|[0-9]|[^a-zA-Z0-9\s]'))
                     AS BIGINT) AS n_subwords
            FROM documents ORDER BY doc_id LIMIT 500"""))

  /** Quality-scoring ratios (stopword + punctuation). */
  val textQuality = Q(
    "text_quality",
    (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextAnalysis.stopwordRatio(col("text")).as("stop_ratio"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"))
        .orderBy("doc_id")
        .limit(500),
    Some("""SELECT doc_id,
                   ROUND(CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                       x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x)))
                     AS DOUBLE) /
                     GREATEST(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 1.0),
                     4) AS stop_ratio,
                   ROUND(CAST(LENGTH(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))
                     AS DOUBLE) /
                     GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0), 4) AS punct_ratio
            FROM documents ORDER BY doc_id LIMIT 500"""))

  /** Water-filling mixture plan ([[Sampling.mixturePlan]]): split a
    * 7000-token budget across the sources of a deterministically
    * SKEWED corpus (each source keeps only doc_ids divisible by
    * `1 + ascii(last char) mod 4`, giving a 3.5× availability spread —
    * the uniform fixture would saturate all-or-nothing). The greedy-
    * prefix water-filling contract is fully static, so the oracle
    * re-derives the skew, every availability, the α=1/2 integer
    * weights, the ratio ordering, the saturated prefix and every
    * allocation with one window pass — 4 of 10 surviving sources
    * saturate at sf0.01, the rest split the refill by weight. */
  val mixturePlanQ = Q(
    "sample_mixture_plan",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val skew = docs.filter(pmod(col("doc_id"),
        lit(1) + pmod(ascii(substring(col("source"), -1, 1)), lit(4)))
        === 0)
      Sampling.mixturePlan(skew, totalBudgetTokens = 7000L)
        .orderBy("source")
    },
    Some("""WITH sk AS (
              SELECT doc_id, source, text FROM documents
              WHERE doc_id % (1 + ascii(right(source, 1)) % 4) = 0),
            ps AS (
              SELECT source,
                     CAST(SUM(len(string_split_regex(trim(text), '\s+')))
                       AS BIGINT) AS avail
              FROM sk GROUP BY source),
            tot AS (SELECT CAST(SUM(avail) AS BIGINT) AS t FROM ps),
            wt AS (
              SELECT source, avail,
                     GREATEST(1, CAST(floor(sqrt(CAST(
                       (avail * 1000000 // t) * 1000000 AS DOUBLE)))
                       AS BIGINT)) AS w
              FROM ps, tot),
            tw AS (SELECT CAST(SUM(w) AS BIGINT) AS wtot FROM wt),
            ord AS (
              SELECT source, avail, w,
                     CAST(SUM(avail) OVER (ORDER BY avail * 1000000 // w,
                       source ROWS UNBOUNDED PRECEDING) - avail
                       AS BIGINT) AS pa0,
                     CAST(SUM(w) OVER (ORDER BY avail * 1000000 // w,
                       source ROWS UNBOUNDED PRECEDING) - w
                       AS BIGINT) AS pw0
              FROM wt),
            cond AS (
              SELECT ord.*, tw.wtot,
                     CASE WHEN (wtot - pw0) > 0 AND
                       (7000 - pa0) * w // (wtot - pw0) >= avail
                       THEN 1 ELSE 0 END AS ok
              FROM ord, tw),
            pref AS (
              SELECT *, MIN(ok) OVER (ORDER BY avail * 1000000 // w,
                source ROWS UNBOUNDED PRECEDING) AS sat
              FROM cond),
            agg AS (
              SELECT CAST(COALESCE(SUM(CASE WHEN sat = 1 THEN avail END), 0)
                       AS BIGINT) AS pa,
                     CAST(COALESCE(SUM(CASE WHEN sat = 1 THEN w END), 0)
                       AS BIGINT) AS pw
              FROM pref)
            SELECT p.source, p.avail AS avail_tokens, p.w AS weight,
                   CAST(CASE WHEN p.sat = 1 THEN p.avail
                        WHEN (p.wtot - a.pw) > 0
                          THEN (7000 - a.pa) * p.w // (p.wtot - a.pw)
                        ELSE 0 END AS BIGINT) AS alloc_tokens,
                   p.sat = 1 AS saturated
            FROM pref p, agg a ORDER BY p.source"""))

  /** Shared winnowing CTEs: k=4-token grams hashed with the rolling
    * `acc·131 + char mod 2³¹−1` recurrence (the engine's TextHash),
    * w=4 window minima via a per-doc SQL window MIN, distinct set per
    * doc — ends in `wfps(doc_id, mn)`. */
  private val winnowCtes: String =
    """WITH t AS (
         SELECT doc_id,
                string_split_regex(trim(lower(coalesce(text, ''))),
                  '\s+') AS ts
         FROM documents),
       kg AS (
         SELECT doc_id, g.i AS pos,
                array_to_string(ts[g.i:g.i+3], ' ') AS g
         FROM t, UNNEST(range(1, greatest(len(ts) - 2, 1))) AS g(i)),
       h AS (
         SELECT doc_id, pos,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(string_split_regex(g, ''),
                    c -> CAST(ascii(c) AS BIGINT))),
                  (acc, x) -> (acc * 131 + x) % 2147483647) AS hh
         FROM kg),
       mins AS (
         SELECT doc_id, pos,
                MIN(hh) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn,
                COUNT(*) OVER (PARTITION BY doc_id) AS nk
         FROM h),
       wfps AS (
         SELECT DISTINCT doc_id, mn FROM mins WHERE pos <= nk - 3)"""

  /** Winnowing fingerprints ([[TextAnalysis.winnowFingerprints]],
    * Schleimer et al. 2003): per doc, the sorted distinct w-window
    * minima of the rolling k-gram hashes — the MOSS copy-detection
    * selector, guaranteeing any ≥(k+w−1)-token shared run yields a
    * shared fingerprint at ~1/w the k-gram storage. ROW-LEVEL oracle:
    * DuckDB re-derives every k-gram hash, every window minimum, and
    * the full per-doc set (emitted as a joined string). */
  val winnowFpQ = Q(
    "text_winnow_fp",
    (s, d) =>
      TextAnalysis.winnowFingerprints(Tables.documents(s, d), k = 4, w = 4)
        .select(col("doc_id"), col("n_kgrams"),
          concat_ws("-",
            transform(col("fps"), f => f.cast("string"))).as("fp_str"))
        .orderBy("doc_id")
        .limit(500),
    Some(s"""$winnowCtes,
        agg AS (
          SELECT doc_id,
                 string_agg(CAST(mn AS VARCHAR), '-' ORDER BY mn)
                   AS fp_str
          FROM wfps GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(greatest(len(string_split_regex(
                 trim(lower(coalesce(d.text, ''))), '\\s+')) - 3, 0)
                 AS BIGINT) AS n_kgrams,
               COALESCE(a.fp_str, '') AS fp_str
        FROM documents d LEFT JOIN agg a USING (doc_id)
        ORDER BY doc_id LIMIT 500"""))

  /** Winnowing copy-candidate pairs ([[TextAnalysis.winnowPairs]]):
    * docs sharing ≥2 selected fingerprints after the df-10
    * boilerplate cap — the MOSS join. The oracle recomputes the
    * selection, the cap, and every pair count. */
  val winnowPairsQ = Q(
    "dedup_winnow_pairs",
    (s, d) =>
      TextAnalysis.winnowPairs(Tables.documents(s, d),
          k = 4, w = 4, minShared = 2, maxDf = 10)
        .orderBy("id_a", "id_b"),
    Some(s"""$winnowCtes,
        dfc AS (
          SELECT mn, COUNT(*) AS c FROM wfps GROUP BY mn),
        capped AS (
          SELECT wfps.doc_id, wfps.mn FROM wfps
          JOIN dfc USING (mn) WHERE dfc.c <= 10),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 COUNT(*) AS n_shared
          FROM capped a JOIN capped b
            ON a.mn = b.mn AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT id_a, id_b, n_shared FROM pairs
        WHERE n_shared >= 2 ORDER BY id_a, id_b"""))

  /** Shared DuckDB CTEs re-deriving every Gopher metric (identical
    * tokenization, integer counts, and round-4 ratio arithmetic to
    * [[TextAnalysis.gopherFlags]]); `r` has one row per doc with all
    * seven metrics. */
  private val gopherMetricCtes: String =
    """WITH b AS (
         SELECT doc_id, source, coalesce(text, '') AS t,
                string_split_regex(trim(coalesce(text, '')), '\s+') AS toks
         FROM documents),
       m AS (
         SELECT doc_id, source,
                CAST(len(toks) AS BIGINT) AS n_words,
                GREATEST(CAST(len(toks) AS DOUBLE), 1.0) AS nw,
                list_reduce(list_prepend(0,
                  [length(w) for w in toks]), (a, b) -> a + b) AS sum_len,
                length(t) - length(replace(t, '#', '')) AS hashes,
                (length(t) - length(replace(t, '...', ''))) // 3
                  AS ellipses,
                len(list_filter(toks,
                  w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
                CAST(len(list_filter(
                  ['the','be','to','of','and','that','have','with'],
                  s -> list_contains(toks, s))) AS BIGINT) AS n_stop,
                string_split(t, chr(10)) AS lines
         FROM b),
       r AS (
         SELECT doc_id, source, n_words,
                ROUND(sum_len / nw, 4) AS mean_word_len,
                ROUND((hashes + ellipses) / nw, 4) AS symbol_ratio,
                ROUND(alpha_words / nw, 4) AS alpha_frac,
                n_stop,
                ROUND(len(list_filter(lines,
                    l -> starts_with(l, '• ') OR starts_with(l, '- '))) /
                  GREATEST(CAST(len(lines) AS DOUBLE), 1.0), 4)
                  AS bullet_frac,
                ROUND(len(list_filter(lines, l -> ends_with(l, '...'))) /
                  GREATEST(CAST(len(lines) AS DOUBLE), 1.0), 4)
                  AS ellipsis_frac
         FROM m)"""

  /** Gopher quality rules ([[TextAnalysis.gopherFlags]], Rae et al.
    * 2021 §A1.1): per-doc metrics, all seven per-rule booleans, and
    * the composite pass — the canonical published pre-training filter
    * set as one codegen scan. FULL row-level oracle: DuckDB re-derives
    * every metric, every rule boundary, and the conjunction. The
    * 30-word floor sits inside the fixture's 10–99-word range and the
    * stopword floor is 1 (the synthetic vocabulary carries only 'the'
    * of the canonical eight — at the published floor of 2 the filter
    * would degenerate to keep-nothing), so both outcomes of the
    * discriminating rules are present: ~2/3 of docs survive. */
  val gopherRulesQ = Q(
    "text_gopher_rules",
    (s, d) =>
      TextAnalysis.gopherFlags(Tables.documents(s, d), minWords = 30,
          minStopwords = 1)
        .orderBy("doc_id")
        .limit(500),
    Some(s"""$gopherMetricCtes
        SELECT doc_id, n_words, mean_word_len, symbol_ratio,
               alpha_frac, n_stop, bullet_frac, ellipsis_frac,
               n_words >= 30 AND n_words <= 100000 AS r_words,
               mean_word_len >= 3.0 AND mean_word_len <= 10.0
                 AS r_wordlen,
               symbol_ratio <= 0.1 AS r_symbol,
               alpha_frac >= 0.8 AS r_alpha,
               n_stop >= 1 AS r_stop,
               bullet_frac <= 0.9 AS r_bullet,
               ellipsis_frac <= 0.3 AS r_ellipsis,
               (n_words >= 30 AND n_words <= 100000)
                 AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                 AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8
                 AND n_stop >= 1 AND bullet_frac <= 0.9
                 AND ellipsis_frac <= 0.3 AS pass
        FROM r ORDER BY doc_id LIMIT 500"""))

  /** The Gopher act step ([[TextAnalysis.gopherFilter]]): per-source
    * survival accounting with the kept membership pinned by the id
    * sum. The oracle recomputes every rule and the aggregate. */
  val gopherFilterQ = Q(
    "text_gopher_filter",
    (s, d) =>
      TextAnalysis.gopherFilter(Tables.documents(s, d), minWords = 30,
        minStopwords = 1),
    Some(s"""$gopherMetricCtes,
        p AS (
          SELECT source, doc_id,
                 (n_words >= 30 AND n_words <= 100000)
                   AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                   AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8
                   AND n_stop >= 1 AND bullet_frac <= 0.9
                   AND ellipsis_frac <= 0.3 AS pass
          FROM r)
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_kept,
               CAST(SUM(CASE WHEN pass THEN doc_id ELSE 0 END) AS BIGINT)
                 AS kept_id_sum
        FROM p GROUP BY source ORDER BY source"""))

  /** Language distribution over the ground-truth lang column. */
  val langDist = Q(
    "text_lang_dist",
    (s, d) =>
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("cnt"), round(avg(col("n_chars")), 2).as("avg_chars"))
        .orderBy("lang"),
    Some("""SELECT lang, COUNT(*) AS cnt, ROUND(AVG(n_chars), 2) AS avg_chars
            FROM documents GROUP BY lang ORDER BY lang"""))

  /** Language-ID heuristic + fingerprint (engine-specific hash — tested
    * against golden values in TextAnalysisSpec; rows-only here). */
  /** Full text-analysis projection, oracle-verified end-to-end: every
    * component (tokenization, stopword-hit language argmax with the
    * same tie order, ratio rounding, and the rolling-hash fingerprint)
    * is re-implemented independently in DuckDB SQL. */
  val textAnalyze = Q(
    "text_analyze",
    (s, d) => TextAnalysis.analyze(Tables.documents(s, d)).orderBy("doc_id"),
    Some(s"""WITH base AS (
               SELECT doc_id, text,
                      string_split_regex(trim(text), '\\s+') AS toks
               FROM documents),
             hits AS (
               SELECT *,
                 CAST(len(list_filter(toks, t -> list_contains(
                   ['der','die','und','das','von','zu','mit','den','ein','ist'], t))) AS BIGINT) AS h_de,
                 CAST(len(list_filter(toks, t -> list_contains(
                   ['the','a','of','and','to','in','is','that','it','for'], t))) AS BIGINT) AS h_en,
                 CAST(len(list_filter(toks, t -> list_contains(
                   ['el','la','de','que','y','en','un','los','se','por'], t))) AS BIGINT) AS h_es,
                 CAST(len(list_filter(toks, t -> list_contains(
                   ['le','la','de','et','les','des','un','une','du','que'], t))) AS BIGINT) AS h_fr,
                 CAST(len(list_filter(toks, t -> list_contains(
                   ['的','一','是','不','了','人','我','在','有','他'], t))) AS BIGINT) AS h_zh
               FROM base),
             m AS (
               SELECT doc_id, text, toks,
                 ROUND(h_en / GREATEST(CAST(len(toks) AS DOUBLE), 1.0), 4)
                   AS stop_ratio,
                 ROUND(CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
                     AS DOUBLE) / GREATEST(CAST(length(text) AS DOUBLE), 1.0), 4)
                   AS punct_ratio,
                 CASE WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr
                           AND h_de >= h_zh THEN 'de'
                      WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
                      WHEN h_es >= h_fr AND h_es >= h_zh THEN 'es'
                      WHEN h_fr >= h_zh THEN 'fr'
                      ELSE 'zh' END AS lang_pred
               FROM hits)
             SELECT doc_id,
                    CAST(length(text) AS BIGINT) AS n_chars,
                    CAST(len(toks) AS BIGINT) AS n_tokens,
                    stop_ratio,
                    punct_ratio,
                    ROUND((LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
                           + (1.0 - LEAST(punct_ratio * 5.0, 1.0))
                           + LEAST(stop_ratio * 5.0, 1.0)) / 3.0, 4) AS quality,
                    lang_pred,
                    ${duckdbTextHash(
                      "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')")} AS fp
             FROM m ORDER BY doc_id"""))

  /** Per-source quality gate ([[Curate.topQualityPerSource]]): keep
    * each source's best 50 documents by composite quality score. The
    * oracle recomputes the full score (same inner rounding as
    * `text_analyze`) and the windowed rank with the identical
    * tie-break, so membership is checked row for row. */
  val qualityGate = Q(
    "curate_top_quality",
    (s, d) =>
      Curate.topQualityPerSource(Tables.documents(s, d), 50)
        .select(col("doc_id"), col("source"), col("quality"))
        .orderBy("source", "doc_id"),
    Some("""WITH m AS (
              SELECT doc_id, source, text,
                ROUND(CAST(len(list_filter(
                    string_split_regex(trim(text), '\s+'),
                    x -> list_contains(
                      ['the','a','of','and','to','in','is','that','it','for'],
                      x))) AS DOUBLE) /
                  GREATEST(CAST(len(string_split_regex(trim(text), '\s+'))
                    AS DOUBLE), 1.0), 4) AS stop_ratio,
                ROUND(CAST(length(regexp_replace(text,
                    '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE) /
                  GREATEST(CAST(length(text) AS DOUBLE), 1.0), 4)
                  AS punct_ratio
              FROM documents),
            q AS (
              SELECT doc_id, source,
                ROUND((LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
                       + (1.0 - LEAST(punct_ratio * 5.0, 1.0))
                       + LEAST(stop_ratio * 5.0, 1.0)) / 3.0, 4)
                  AS quality
              FROM m)
            SELECT doc_id, source, quality FROM q
            QUALIFY row_number() OVER (
              PARTITION BY source
              ORDER BY quality DESC NULLS LAST, doc_id) <= 50
            ORDER BY source, doc_id"""))

  /** Train/eval contamination: which "training" docs share a 4-word
    * shingle with the held-out "benchmark" slice (doc_id % 50 = 0).
    * k=4 here because the fixture vocabulary is ~40 words — at real
    * vocabulary sizes the operator default of 8 applies. */
  val contamination = Q(
    "llm_contamination",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationHits(
          probe = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
          bench = docs.filter(pmod(col("doc_id"), lit(50)) === 0),
          k = 4)
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+') AS t
              FROM documents),
            sh AS (
              SELECT doc_id,
                CASE WHEN len(t) < 4 THEN [array_to_string(t, ' ')]
                  ELSE list_distinct([array_to_string(t[i:i+3], ' ')
                        for i in range(1, len(t) - 2)])
                END AS s
              FROM toks),
            bench AS (SELECT doc_id, s FROM sh WHERE doc_id % 50 = 0),
            probe AS (SELECT doc_id, s FROM sh WHERE doc_id % 50 <> 0)
            SELECT p.doc_id,
                   COUNT(DISTINCT b.doc_id) AS n_bench_hits
            FROM probe p JOIN bench b
              ON len(list_intersect(p.s, b.s)) > 0
            GROUP BY p.doc_id ORDER BY p.doc_id"""))

  /** Decontamination ([[Dedup.decontaminate]]): the act step — audit
    * counts after dropping every training doc that shares a 4-shingle
    * with the benchmark slice. The oracle recomputes the contaminated
    * set via exact list_intersect and both counts. */
  val decontaminate = Q(
    "llm_decontaminate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val probe = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      val bench = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
      val kept = Dedup.decontaminate(probe, bench, k = 4)
      probe.agg(count(lit(1)).as("n_train"))
        .crossJoin(broadcast(kept.agg(
          count(lit(1)).as("n_kept"),
          coalesce(sum(col("doc_id")), lit(0L)).as("kept_id_sum"))))
        .select(col("n_train"),
          (col("n_train") - col("n_kept")).as("n_dropped"),
          col("n_kept"), col("kept_id_sum"))
    },
    Some("""WITH toks AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+') AS t
              FROM documents),
            sh AS (
              SELECT doc_id,
                CASE WHEN len(t) < 4 THEN [array_to_string(t, ' ')]
                  ELSE list_distinct([array_to_string(t[i:i+3], ' ')
                        for i in range(1, len(t) - 2)])
                END AS s
              FROM toks),
            bench AS (SELECT doc_id, s FROM sh WHERE doc_id % 50 = 0),
            probe AS (SELECT doc_id, s FROM sh WHERE doc_id % 50 <> 0),
            bad AS (
              SELECT DISTINCT p.doc_id FROM probe p JOIN bench b
                ON len(list_intersect(p.s, b.s)) > 0),
            kept AS (
              SELECT doc_id FROM probe
              WHERE doc_id NOT IN (SELECT doc_id FROM bad))
            SELECT (SELECT COUNT(*) FROM probe) AS n_train,
                   (SELECT COUNT(*) FROM bad) AS n_dropped,
                   (SELECT COUNT(*) FROM kept) AS n_kept,
                   (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT)
                    FROM kept) AS kept_id_sum"""))

  /** Span-level decontamination ([[SpanDedup.decontaminateSpans]]):
    * excise every 4-token window the benchmark slice (doc_id % 50 = 0)
    * contains verbatim from each training doc and keep the remainder —
    * the surgical alternative to [[Dedup.decontaminate]]'s whole-doc
    * drop. The engine ships only xxhash64 window keys; the oracle
    * recomputes the pipeline string-keyed end to end (bench window
    * set, covered positions, in-order reassembly). windowLen=4 for
    * the fixture's ~40-word vocabulary, like `llm_contamination`. */
  val decontaminateSpansQ = Q(
    "llm_decontaminate_spans",
    (s, d) => {
      val docs = Tables.documents(s, d)
      SpanDedup.decontaminateSpans(
          probe = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
          bench = docs.filter(pmod(col("doc_id"), lit(50)) === 0),
          windowLen = 4)
        .orderBy("doc_id")
        .limit(500)
    },
    Some("""WITH tok AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(coalesce(text, ''))),
                       '\s+') AS ts
              FROM documents),
            win AS (
              SELECT doc_id, t.i AS pos,
                     array_to_string(ts[t.i:t.i+3], ' ') AS w
              FROM tok, UNNEST(range(1, greatest(len(ts) - 2, 1))) AS t(i)),
            hot AS (
              SELECT DISTINCT w FROM win WHERE doc_id % 50 = 0),
            covered AS (
              SELECT DISTINCT p.doc_id, p.pos + o.off AS tp
              FROM (SELECT doc_id, pos, w FROM win
                    WHERE doc_id % 50 <> 0) p
              JOIN hot USING (w),
                   UNNEST(range(0, 4)) AS o(off)),
            tokens AS (
              SELECT doc_id, t.i AS tp, ts[t.i] AS tok
              FROM tok, UNNEST(range(1, len(ts) + 1)) AS t(i)
              WHERE doc_id % 50 <> 0),
            kept AS (
              SELECT k.doc_id,
                     COUNT(*) AS n_tokens,
                     CAST(COUNT(c.tp) AS BIGINT) AS n_removed,
                     COALESCE(string_agg(
                       CASE WHEN c.tp IS NULL THEN k.tok END, ' '
                       ORDER BY k.tp), '') AS kept_text
              FROM tokens k
              LEFT JOIN covered c
                ON c.doc_id = k.doc_id AND c.tp = k.tp
              GROUP BY k.doc_id)
            SELECT doc_id, n_tokens, n_removed, kept_text
            FROM kept ORDER BY doc_id LIMIT 500"""))

  /** Bloom-pruned contamination twin: identical answer (no false
    * negatives), same oracle; the probe's shingle stream is pre-
    * filtered against a sketch of the bench shingles inside codegen
    * before any join — the eval-too-big-to-broadcast shape. */
  val contaminationBloom = Q(
    "llm_contamination_bloom",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationHitsBloom(
          probe = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
          bench = docs.filter(pmod(col("doc_id"), lit(50)) === 0),
          k = 4,
          expectedShingles = 100000L)
        .orderBy("doc_id")
    },
    contamination.oracle)

  /** Gopher-rules repetition signals: type-token ratio, top-bigram
    * fraction, duplicate-5-gram fraction — all row-local column
    * algebra (no shuffle; scales with executors). */
  val textRepetition = Q(
    "text_repetition",
    (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextAnalysis.typeTokenRatio(col("text")).as("ttr"),
        TextAnalysis.topBigramFraction(col("text")).as("top_bigram_frac"),
        TextAnalysis.dupNgramFraction(col("text"), 5).as("dup_5gram_frac"))
        .orderBy("doc_id")
        .limit(500),
    Some("""WITH t AS (
              SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
              FROM documents),
            g AS (
              SELECT doc_id, toks,
                CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
                  ELSE [array_to_string(toks[i:i+1], ' ')
                        for i in range(1, len(toks))] END AS bg,
                CASE WHEN len(toks) < 5 THEN []::VARCHAR[]
                  ELSE [array_to_string(toks[i:i+4], ' ')
                        for i in range(1, len(toks) - 3)] END AS g5
              FROM t)
            SELECT doc_id,
                   ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) /
                     GREATEST(CAST(len(toks) AS DOUBLE), 1.0), 4) AS ttr,
                   COALESCE(ROUND(CAST(list_max(
                       [len(list_filter(bg, y -> y = x)) for x in list_distinct(bg)])
                     AS DOUBLE) / CAST(len(bg) AS DOUBLE), 4), 0.0)
                     AS top_bigram_frac,
                   CASE WHEN len(g5) > 0
                     THEN ROUND(1.0 - CAST(len(list_distinct(g5)) AS DOUBLE) /
                       CAST(len(g5) AS DOUBLE), 4)
                     ELSE 0.0 END AS dup_5gram_frac
            FROM g ORDER BY doc_id LIMIT 500"""))

  /** PII scrub: the fixture corpus carries no PII, so the query
    * synthesizes a deterministic contact suffix from doc fields first,
    * then counts and redacts — the regex semantics (Java in Spark, RE2
    * in the oracle) are what is under test. */
  val textRedact = Q(
    "text_redact_pii",
    (s, d) => {
      val raw = concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 555-123-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
      Tables.documents(s, d).select(
        col("doc_id"),
        TextAnalysis.piiCount(raw, TextAnalysis.EmailRe).as("n_emails"),
        TextAnalysis.piiCount(raw, TextAnalysis.PhoneRe).as("n_phones"),
        TextAnalysis.redactPii(raw).as("redacted"))
        .orderBy("doc_id")
        .limit(500)
    },
    Some(s"""WITH r AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                     '@example.com or 555-123-' ||
                     lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
              FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(raw,
                     '${TextAnalysis.EmailRe}')) AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(raw,
                     '${TextAnalysis.PhoneRe}')) AS BIGINT) AS n_phones,
                   regexp_replace(regexp_replace(raw,
                     '${TextAnalysis.EmailRe}', '[EMAIL]', 'g'),
                     '${TextAnalysis.PhoneRe}', '[PHONE]', 'g') AS redacted
            FROM r ORDER BY doc_id LIMIT 500"""))

  /** Sequence packing: concatenate-then-split shard assignment at a
    * 2048-token budget, packed per (source, doc_id mod 8) unit so the
    * packing parallelizes — see [[Packing]]. The oracle recomputes the
    * identical window cumsum + integer division in DuckDB. */
  val packShards = Q(
    "pack_shards",
    (s, d) => Packing.shardStats(Tables.documents(s, d)),
    Some("""WITH t AS (
              SELECT doc_id, source,
                     CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                       AS n_tokens,
                     doc_id % 8 AS bucket
              FROM documents),
            c AS (
              SELECT source, bucket, n_tokens,
                     SUM(n_tokens) OVER (PARTITION BY source, bucket
                         ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                       - n_tokens AS start_tok
              FROM t)
            SELECT source, CAST(bucket AS BIGINT) AS bucket,
                   CAST(start_tok // 2048 AS BIGINT) AS shard_seq,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
            FROM c
            GROUP BY source, bucket, shard_seq
            ORDER BY source, bucket, shard_seq"""))

  /** Fixed-size token chunks with overlap (size 32, stride 24) — the
    * RAG/pretraining chunking step, pure generate+slice column algebra
    * with zero shuffles ([[Chunking]]). The oracle re-derives every
    * chunk's full text in DuckDB from the same tokenization, so chunk
    * boundaries, overlap, and content are compared verbatim. */
  val chunkDocs = Q(
    "chunk_documents",
    (s, d) =>
      Chunking.chunk(Tables.documents(s, d), chunkSize = 32, overlap = 8)
        .select("doc_id", "chunk_idx", "start_tok", "n_chunk_tokens",
          "chunk_text")
        .orderBy("doc_id", "chunk_idx"),
    Some("""WITH t AS (
              SELECT doc_id,
                     string_split_regex(trim(coalesce(text, '')), '\s+')
                       AS toks
              FROM documents),
            s AS (
              SELECT doc_id, toks,
                     unnest(generate_series(0, len(toks) - 1, 24))
                       AS start_tok
              FROM t)
            SELECT doc_id,
                   start_tok // 24 AS chunk_idx,
                   CAST(start_tok AS BIGINT) AS start_tok,
                   CAST(len(toks[start_tok + 1 : start_tok + 32]) AS BIGINT)
                     AS n_chunk_tokens,
                   array_to_string(toks[start_tok + 1 : start_tok + 32], ' ')
                     AS chunk_text
            FROM s ORDER BY doc_id, chunk_idx"""))

  /** Interpolated bigram LM score ([[LanguageModel.scoreBigram]]):
    * the oracle re-learns BOTH models — the top-1000 unigram vocab
    * (`cnt DESC, token`) and the top-2000 bigram vocab
    * (`bcnt DESC, w1, w2`) — and recomputes every document's mean
    * `ln(λ·P(w2|w1) + (1-λ)·Pu(w2))` with the same backoff-to-zero and
    * OOV floor; round 4 absorbs summation-order float noise. */
  val bigramScore = Q(
    "text_bigram_logprob",
    (s, d) =>
      LanguageModel.scoreBigram(Tables.documents(s, d))
        .select(
          col("doc_id"), col("n_bigrams"),
          round(col("avg_logprob"), 4).as("avg_logprob"))
        .orderBy("doc_id"),
    Some("""WITH t AS (
              SELECT doc_id,
                     string_split_regex(trim(lower(coalesce(text, ''))),
                       '\s+') AS toks
              FROM documents),
            tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
            counts AS (
              SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
            tot AS (
              SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM counts),
            uni AS (
              SELECT token, cnt FROM counts
              ORDER BY cnt DESC, token LIMIT 1000),
            idx AS (
              SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
              FROM t WHERE len(toks) >= 2),
            bg AS (
              SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM idx),
            bc AS (
              SELECT w1, w2, COUNT(*) AS bcnt FROM bg GROUP BY w1, w2
              ORDER BY bcnt DESC, w1, w2 LIMIT 2000)
            SELECT bg.doc_id,
                   COUNT(*) AS n_bigrams,
                   ROUND(AVG(ln(
                     0.7 * coalesce(CAST(bc.bcnt AS DOUBLE)
                                    / CAST(u1.cnt AS DOUBLE), 0.0)
                     + (1.0 - 0.7) * (coalesce(CAST(u2.cnt AS DOUBLE), 0.5)
                                      / tot.total))), 4) AS avg_logprob
            FROM bg
            LEFT JOIN bc ON bg.w1 = bc.w1 AND bg.w2 = bc.w2
            LEFT JOIN uni u1 ON bg.w1 = u1.token
            LEFT JOIN uni u2 ON bg.w2 = u2.token
            CROSS JOIN tot
            GROUP BY bg.doc_id ORDER BY bg.doc_id"""))

  /** The bigram-LM score CTEs shared by the perplexity-bucket rows:
    * identical models to `text_bigram_logprob`, ending in
    * `sc(doc_id, si)` — the integer score surrogate
    * `round(avg_logprob·10⁴, 0)` (exactly integer-valued in both
    * engines) — and `thr(t1, t2)`, the interpolated tercile
    * thresholds over those integers. */
  private val pplScoreCtes: String =
    """WITH t AS (
         SELECT doc_id, lang,
                string_split_regex(trim(lower(coalesce(text, ''))),
                  '\s+') AS toks
         FROM documents),
       tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
       counts AS (
         SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
       tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM counts),
       uni AS (
         SELECT token, cnt FROM counts
         ORDER BY cnt DESC, token LIMIT 1000),
       idx AS (
         SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
         FROM t WHERE len(toks) >= 2),
       bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM idx),
       bc AS (
         SELECT w1, w2, COUNT(*) AS bcnt FROM bg GROUP BY w1, w2
         ORDER BY bcnt DESC, w1, w2 LIMIT 2000),
       sc AS (
         SELECT bg.doc_id,
                CAST(ROUND(AVG(ln(
                  0.7 * coalesce(CAST(bc.bcnt AS DOUBLE)
                                 / CAST(u1.cnt AS DOUBLE), 0.0)
                  + (1.0 - 0.7) * (coalesce(CAST(u2.cnt AS DOUBLE), 0.5)
                                   / tot.total))) * 10000, 0) AS BIGINT)
                  AS si
         FROM bg
         LEFT JOIN bc ON bg.w1 = bc.w1 AND bg.w2 = bc.w2
         LEFT JOIN uni u1 ON bg.w1 = u1.token
         LEFT JOIN uni u2 ON bg.w2 = u2.token
         CROSS JOIN tot
         GROUP BY bg.doc_id),
       thr AS (
         SELECT quantile_cont(si, 1.0/3.0) AS t1,
                quantile_cont(si, 2.0/3.0) AS t2
         FROM sc)"""

  /** CCNet-style perplexity terciles ([[LanguageModel.pplBuckets]]):
    * every scoreable doc labeled head / middle / tail by its integer
    * bigram-LM score surrogate vs the interpolated tercile
    * thresholds. ROW-LEVEL oracle: DuckDB re-learns both LM models,
    * re-derives every integer score, both thresholds, and every
    * bucket decision. */
  val pplBucketsQ = Q(
    "text_ppl_buckets",
    (s, d) =>
      LanguageModel.pplBuckets(Tables.documents(s, d))
        .orderBy("doc_id")
        .limit(500),
    Some(s"""$pplScoreCtes
        SELECT doc_id, si,
               CASE WHEN si >= t2 THEN 'head'
                    WHEN si >= t1 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM sc, thr ORDER BY doc_id LIMIT 500"""))

  /** The CCNet act step ([[LanguageModel.pplKeep]]): drop the
    * noisiest (tail-tercile) third, keep head+middle — per-lang
    * survival accounting with kept membership pinned by the id sum.
    * Unscoreable (<2-token) docs PASS THROUGH (no LM evidence ⇒ not
    * "noisy"); the oracle mirrors that contract with the same
    * anti-join shape: kept = NOT affirmatively tail-bucketed. */
  val pplKeepQ = Q(
    "text_ppl_keep",
    (s, d) =>
      LanguageModel.pplKeep(Tables.documents(s, d))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy("lang"),
    Some(s"""$pplScoreCtes,
        dropped AS (SELECT doc_id FROM sc, thr WHERE si < t1)
        SELECT d.lang, COUNT(*) AS n_kept,
               CAST(SUM(d.doc_id) AS BIGINT) AS id_sum
        FROM documents d ANTI JOIN dropped USING (doc_id)
        GROUP BY d.lang ORDER BY d.lang"""))

  /** BPE merge-candidate table ([[LanguageModel.bpeMergePairs]]): the
    * first tokenizer-training iteration's frequency-weighted adjacent
    * char-pair counts. Fully integer + lexicographic tie-break, so
    * the oracle recomputes the exact top-20. */
  val bpePairs = Q(
    "text_bpe_merge_pairs",
    (s, d) =>
      LanguageModel.bpeMergePairs(Tables.documents(s, d), topK = 20),
    Some("""WITH w AS (
              SELECT unnest(string_split_regex(
                trim(lower(coalesce(text, ''))), '\s+')) AS word
              FROM documents),
            f AS (
              SELECT word, COUNT(*) AS wfreq FROM w
              WHERE length(word) >= 2 GROUP BY word),
            p AS (
              SELECT wfreq,
                     unnest([ch[i] || ch[i + 1]
                             for i in range(1, len(ch))]) AS pair
              FROM (SELECT wfreq, string_split_regex(word, '') AS ch
                    FROM f))
            SELECT pair, CAST(SUM(wfreq) AS BIGINT) AS cnt
            FROM p GROUP BY pair
            ORDER BY cnt DESC, pair LIMIT 20"""))

  /** Boilerplate signal ([[TextAnalysis.boilerplateScores]]): per-doc
    * shared-shingle stats against the whole corpus — the template-text
    * cue near-dup removal can't see. The oracle re-shingles every
    * document with the same k=3 list comprehension the Jaccard oracle
    * uses and recomputes df, the shared counts, and the fraction. */
  val boilerplate = Q(
    "text_boilerplate",
    (s, d) =>
      TextAnalysis.boilerplateScores(Tables.documents(s, d))
        .select(
          col("doc_id"), col("n_shingles"), col("n_shared"),
          col("shared_frac"), col("max_df"))
        .orderBy("doc_id"),
    Some("""WITH sh AS (
              SELECT doc_id,
                unnest(CASE
                  WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
                  THEN [array_to_string(
                         string_split_regex(lower(trim(text)), '\s+'), ' ')]
                  ELSE list_distinct(
                    [array_to_string(
                       string_split_regex(lower(trim(text)), '\s+')[i:i+2], ' ')
                     for i in range(1,
                       len(string_split_regex(lower(trim(text)), '\s+')) - 1)])
                  END) AS shingle
              FROM documents),
            df AS (
              SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle)
            SELECT s.doc_id,
                   COUNT(*) AS n_shingles,
                   COUNT(CASE WHEN df.df > 1 THEN 1 END) AS n_shared,
                   ROUND(CAST(COUNT(CASE WHEN df.df > 1 THEN 1 END) AS DOUBLE)
                     / COUNT(*), 4) AS shared_frac,
                   MAX(df.df) AS max_df
            FROM sh s JOIN df ON df.shingle = s.shingle
            GROUP BY s.doc_id ORDER BY s.doc_id"""))

  /** Corpus drift monitor: KL (both directions) + Jensen–Shannon
    * divergence between the even- and odd-indexed source halves of the
    * corpus, over the pooled top-500 vocab with add-half smoothing —
    * the check a pipeline runs per incoming batch to notice a source
    * mix change (see [[Drift]] for the scale design: only (token,cnt)
    * pairs ever shuffle). The oracle recomputes the full recipe —
    * vocab cut, smoothing, every divergence, and the argmax-drift
    * token — in DuckDB. */
  /** Snapshot membership diff ([[Drift.corpusDiff]]): prev = docs with
    * id % 7 ≠ 0, cur = docs with id % 5 ≠ 0 and every id % 11 = 0 doc
    * rewritten — all four categories (added/removed/changed/unchanged)
    * non-empty by construction. Engine pairs by id and compares
    * content DIGESTS; the oracle compares the raw text (digest
    * equality ≡ text equality) and re-derives every count plus the
    * membership-pinning id sums. */
  val corpusDiffQ = Q(
    "corpus_diff",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val prev = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      val cur = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(col("text"), lit(" rewritten-v2")))
            .otherwise(col("text")))
      Drift.corpusDiff(prev, cur)
    },
    Some("""WITH prev AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
            cur AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 11 = 0
                       THEN text || ' rewritten-v2' ELSE text END AS text
              FROM documents WHERE doc_id % 5 <> 0),
            j AS (
              SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
                     p.text AS t_prev, c.text AS t_cur,
                     p.doc_id IS NOT NULL AS in_prev,
                     c.doc_id IS NOT NULL AS in_cur
              FROM prev p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id)
            SELECT COUNT(CASE WHEN in_prev THEN 1 END) AS n_prev,
                   COUNT(CASE WHEN in_cur THEN 1 END) AS n_cur,
                   COUNT(CASE WHEN NOT in_prev THEN 1 END) AS n_added,
                   COUNT(CASE WHEN NOT in_cur THEN 1 END) AS n_removed,
                   COUNT(CASE WHEN in_prev AND in_cur
                              AND t_prev <> t_cur THEN 1 END) AS n_changed,
                   COUNT(CASE WHEN in_prev AND in_cur
                              AND t_prev = t_cur THEN 1 END) AS n_unchanged,
                   CAST(COALESCE(SUM(CASE WHEN NOT in_prev
                     THEN doc_id END), 0) AS BIGINT) AS added_id_sum,
                   CAST(COALESCE(SUM(CASE WHEN NOT in_cur
                     THEN doc_id END), 0) AS BIGINT) AS removed_id_sum
            FROM j"""))

  /** Curation-v2 composition: span-level decontamination
    * ([[SpanDedup.decontaminateSpans]]) → drop fully-leaked (emptied)
    * docs → per-source domain cap ([[Sampling.capPerSource]]) →
    * per-source audit, ONE lazy plan. The oracle recomposes all three
    * stages in a single DuckDB statement — bench window set, covered
    * positions, reassembly, the emptied-doc filter, the salted-hash
    * cap ranking, and the audit counts with membership-pinning id
    * sums — so the COMPOSITION is verified, not just the pieces. */
  val pipelineDeconCap = Q(
    "pipeline_decon_cap",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val probe = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      val bench = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
      val alive = SpanDedup.decontaminateSpans(probe, bench, windowLen = 4)
        .filter(col("kept_text") =!= "")
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
      Sampling.capPerSource(alive, maxDocs = 40)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          sum(col("n_removed")).as("tokens_removed"))
        .orderBy("source")
    },
    Some(s"""WITH tok AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(coalesce(text, ''))),
                       '\\s+') AS ts
              FROM documents),
            win AS (
              SELECT doc_id, t.i AS pos,
                     array_to_string(ts[t.i:t.i+3], ' ') AS w
              FROM tok, UNNEST(range(1, greatest(len(ts) - 2, 1))) AS t(i)),
            hot AS (
              SELECT DISTINCT w FROM win WHERE doc_id % 50 = 0),
            covered AS (
              SELECT DISTINCT p.doc_id, p.pos + o.off AS tp
              FROM (SELECT doc_id, pos, w FROM win
                    WHERE doc_id % 50 <> 0) p
              JOIN hot USING (w),
                   UNNEST(range(0, 4)) AS o(off)),
            tokens AS (
              SELECT doc_id, t.i AS tp, ts[t.i] AS tok
              FROM tok, UNNEST(range(1, len(ts) + 1)) AS t(i)
              WHERE doc_id % 50 <> 0),
            kept AS (
              SELECT k.doc_id,
                     CAST(COUNT(c.tp) AS BIGINT) AS n_removed,
                     COALESCE(string_agg(
                       CASE WHEN c.tp IS NULL THEN k.tok END, ' '
                       ORDER BY k.tp), '') AS kept_text
              FROM tokens k
              LEFT JOIN covered c
                ON c.doc_id = k.doc_id AND c.tp = k.tp
              GROUP BY k.doc_id),
            alive AS (
              SELECT k.doc_id, d.source, k.n_removed
              FROM kept k JOIN documents d USING (doc_id)
              WHERE k.kept_text <> ''),
            capped AS (
              SELECT doc_id, source, n_removed FROM (
                SELECT a.*,
                       ROW_NUMBER() OVER (PARTITION BY source
                         ORDER BY ${duckdbTextHash(
                           "CAST(doc_id AS VARCHAR) || '#cap'")},
                         doc_id) AS rn
                FROM alive a)
              WHERE rn <= 40)
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(doc_id) AS BIGINT) AS id_sum,
                   CAST(SUM(n_removed) AS BIGINT) AS tokens_removed
            FROM capped GROUP BY source ORDER BY source"""))

  val corpusDrift = Q(
    "text_corpus_drift",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val idx = substring(col("source"), 4, 10).cast("int")
      Drift.driftSummary(
          docs.filter(idx % 2 === 0),
          docs.filter(idx % 2 === 1),
          vocabSize = 500)
        .select(
          col("n_vocab"), col("tokens_a"), col("tokens_b"),
          round(col("kl_ab"), 4).as("kl_ab"),
          round(col("kl_ba"), 4).as("kl_ba"),
          round(col("js_divergence"), 4).as("js_divergence"),
          col("top_drift_token"),
          round(col("top_drift_abs"), 6).as("top_drift_abs"))
    },
    Some("""WITH ta AS (
              SELECT unnest(string_split_regex(
                trim(lower(coalesce(text, ''))), '\s+')) AS token
              FROM documents
              WHERE CAST(substr(source, 4) AS INT) % 2 = 0),
            tb AS (
              SELECT unnest(string_split_regex(
                trim(lower(coalesce(text, ''))), '\s+')) AS token
              FROM documents
              WHERE CAST(substr(source, 4) AS INT) % 2 = 1),
            ca AS (SELECT token, COUNT(*) AS cnt_a FROM ta GROUP BY token),
            cb AS (SELECT token, COUNT(*) AS cnt_b FROM tb GROUP BY token),
            pooled AS (
              SELECT coalesce(ca.token, cb.token) AS token,
                     coalesce(cnt_a, 0) AS cnt_a,
                     coalesce(cnt_b, 0) AS cnt_b
              FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
            vocab AS (
              SELECT * FROM pooled
              ORDER BY cnt_a + cnt_b DESC, token LIMIT 500),
            tot AS (
              SELECT COUNT(*) AS k,
                     CAST(SUM(cnt_a) AS DOUBLE) AS tot_a,
                     CAST(SUM(cnt_b) AS DOUBLE) AS tot_b
              FROM vocab),
            probs AS (
              SELECT token,
                     (cnt_a + 0.5) / (tot_a + 0.5 * k) AS p,
                     (cnt_b + 0.5) / (tot_b + 0.5 * k) AS q
              FROM vocab, tot)
            SELECT (SELECT k FROM tot) AS n_vocab,
                   (SELECT CAST(tot_a AS BIGINT) FROM tot) AS tokens_a,
                   (SELECT CAST(tot_b AS BIGINT) FROM tot) AS tokens_b,
                   ROUND(SUM(p * ln(p / q)), 4) AS kl_ab,
                   ROUND(SUM(q * ln(q / p)), 4) AS kl_ba,
                   ROUND(0.5 * SUM(p * ln(p / ((p + q) / 2)))
                       + 0.5 * SUM(q * ln(q / ((p + q) / 2))), 4)
                     AS js_divergence,
                   (SELECT token FROM probs
                    ORDER BY abs(p - q) DESC, token LIMIT 1)
                     AS top_drift_token,
                   ROUND(MAX(abs(p - q)), 6) AS top_drift_abs
            FROM probs"""))

  /** Per-source drift drill-down ([[Drift.driftBySource]]): each
    * source's JS divergence against the rest of the corpus over one
    * global top-500 vocab — the query that names the drifting source
    * after `text_corpus_drift` fires. The oracle rebuilds the dense
    * vocab×source grid and every divergence in DuckDB; the per-source
    * argmax token is recomputed with a window rank. */
  val driftBySource = Q(
    "text_drift_by_source",
    (s, d) =>
      Drift.driftBySource(Tables.documents(s, d), vocabSize = 500)
        .select(
          col("source"), col("tokens_src"),
          round(col("js_divergence"), 4).as("js_divergence"),
          col("top_drift_token"),
          round(col("top_drift_abs"), 6).as("top_drift_abs"))
        .orderBy("source"),
    Some("""WITH toks AS (
              SELECT source, unnest(string_split_regex(
                trim(lower(coalesce(text, ''))), '\s+')) AS token
              FROM documents),
            cs AS (
              SELECT source, token, COUNT(*) AS cnt
              FROM toks GROUP BY source, token),
            g AS (SELECT token, SUM(cnt) AS gcnt FROM cs GROUP BY token),
            vocab AS (
              SELECT token, CAST(gcnt AS DOUBLE) AS gcnt FROM g
              ORDER BY gcnt DESC, token LIMIT 500),
            tot AS (
              SELECT COUNT(*) AS k,
                     CAST(SUM(gcnt) AS DOUBLE) AS tot_g
              FROM vocab),
            ps AS (
              SELECT cs.source, CAST(SUM(cs.cnt) AS DOUBLE) AS tot_s
              FROM cs JOIN vocab USING (token) GROUP BY cs.source),
            grid AS (
              SELECT ps.source, v.token, ps.tot_s, v.gcnt,
                     coalesce(cs.cnt, 0) AS cnt
              FROM vocab v CROSS JOIN ps
              LEFT JOIN cs
                ON cs.source = ps.source AND cs.token = v.token),
            probs AS (
              SELECT source, token, tot_s,
                     (cnt + 0.5) / (tot_s + 0.5 * k) AS p,
                     (gcnt - cnt + 0.5)
                       / (tot_g - tot_s + 0.5 * k) AS q
              FROM grid, tot),
            ranked AS (
              SELECT source, token,
                     row_number() OVER (PARTITION BY source
                       ORDER BY abs(p - q) DESC, token) AS rn
              FROM probs),
            summary AS (
              SELECT source,
                     CAST(MAX(tot_s) AS BIGINT) AS tokens_src,
                     ROUND(0.5 * SUM(p * ln(p / ((p + q) / 2)))
                         + 0.5 * SUM(q * ln(q / ((p + q) / 2))), 4)
                       AS js_divergence,
                     ROUND(MAX(abs(p - q)), 6) AS top_drift_abs
              FROM probs GROUP BY source)
            SELECT s.source, s.tokens_src, s.js_divergence,
                   r.token AS top_drift_token, s.top_drift_abs
            FROM summary s
            JOIN ranked r ON r.source = s.source AND r.rn = 1
            ORDER BY s.source"""))

  /** Per-source distinctive terms ([[Drift.distinctiveTerms]]):
    * Monroe-style log-odds with informative Dirichlet prior, top-5
    * tokens per source — the term-level drill-down behind
    * `text_drift_by_source`. The oracle rebuilds the dense grid and
    * every formula (prior mass, both log-odds, the variance, the
    * round-6 rank cut) in DuckDB; arithmetic is written with
    * identical association on both engines so each computes the same
    * IEEE double before rounding. */
  val distinctiveTermsQ = Q(
    "text_distinctive_terms",
    (s, d) =>
      Drift.distinctiveTerms(Tables.documents(s, d),
        vocabSize = 500, topN = 5, alpha0 = 100.0),
    Some("""WITH toks AS (
              SELECT source, unnest(string_split_regex(
                trim(lower(coalesce(text, ''))), '\s+')) AS token
              FROM documents),
            cs AS (
              SELECT source, token, COUNT(*) AS cnt
              FROM toks GROUP BY source, token),
            g AS (SELECT token, SUM(cnt) AS gcnt FROM cs GROUP BY token),
            vocab AS (
              SELECT token, gcnt FROM g
              ORDER BY gcnt DESC, token LIMIT 500),
            tot AS (
              SELECT CAST(SUM(gcnt) AS DOUBLE) AS tot_g FROM vocab),
            ps AS (
              SELECT cs.source, SUM(cs.cnt) AS tot_s
              FROM cs JOIN vocab USING (token) GROUP BY cs.source),
            grid AS (
              SELECT ps.source, v.token, ps.tot_s, v.gcnt,
                     coalesce(cs.cnt, 0) AS cnt
              FROM vocab v CROSS JOIN ps
              LEFT JOIN cs
                ON cs.source = ps.source AND cs.token = v.token),
            scored AS (
              SELECT source, token, cnt,
                     (ln((cnt + aw) / (tot_s + 100.0 - cnt - aw))
                    - ln((gcnt - cnt + aw)
                         / (tot_g - tot_s + 100.0 - (gcnt - cnt) - aw)))
                    / sqrt(1.0 / (cnt + aw) + 1.0 / (gcnt - cnt + aw))
                       AS z
              FROM (SELECT *, 100.0 * gcnt / tot_g AS aw
                    FROM grid, tot)),
            ranked AS (
              SELECT source, token, cnt, z,
                     row_number() OVER (PARTITION BY source
                       ORDER BY round(z, 6) DESC, token) AS rank
              FROM scored)
            SELECT source, CAST(rank AS BIGINT) AS rank, token, cnt,
                   ROUND(z, 4) AS z_score
            FROM ranked WHERE rank <= 5 ORDER BY source, rank"""))

  /** BM25 retrieval top-k ([[Retrieval.bm25TopK]]): the oracle
    * recomputes N/avgdl/df/tf and the full Lucene-flavored score for
    * every matching document — ranking, tie-break, and truncation
    * included. Constant subexpressions (`1.2 + 1.0`, `1.0 - 0.75`) are
    * written identically on both engines so each computes the same
    * IEEE double before rounding. */
  val bm25TopK = Q(
    "text_bm25_topk",
    (s, d) =>
      Retrieval.bm25TopK(Tables.documents(s, d),
        Seq("hash", "merge", "scan"), k = 15),
    Some("""WITH bl AS (
              SELECT doc_id,
                     string_split_regex(trim(lower(coalesce(text, ''))),
                       '\s+') AS toks
              FROM documents),
            dd AS (
              SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks
              FROM bl),
            stats AS (
              SELECT COUNT(*) AS n_docs,
                     CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                       AS avgdl
              FROM dd),
            tok AS (SELECT doc_id, dl, unnest(toks) AS token FROM dd),
            tf AS (
              SELECT doc_id, dl, token, COUNT(*) AS tf
              FROM tok WHERE token IN ('hash', 'merge', 'scan')
              GROUP BY doc_id, dl, token),
            dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token)
            SELECT tf.doc_id,
                   COUNT(*) AS n_terms_hit,
                   ROUND(SUM(
                     ln(1.0 + (CAST(stats.n_docs AS DOUBLE)
                               - CAST(dfq.df AS DOUBLE) + 0.5)
                              / (CAST(dfq.df AS DOUBLE) + 0.5))
                     * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
                     / (CAST(tf.tf AS DOUBLE)
                        + 1.2 * ((1.0 - 0.75)
                                 + 0.75 * CAST(tf.dl AS DOUBLE)
                                   / stats.avgdl))), 4) AS bm25
            FROM tf JOIN dfq USING (token), stats
            GROUP BY tf.doc_id
            ORDER BY bm25 DESC, doc_id LIMIT 15"""))

  /** Indexed twin of `text_bm25_topk`: the corpus is tokenized ONCE
    * into a persisted inverted index ([[Retrieval.writeBm25Index]] —
    * token-sorted postings + precomputed df + corpus stats,
    * build-once/probe-many) and the query reads only its own terms'
    * rows through a pushed-down `token IN` filter
    * ([[Retrieval.bm25TopKIndexed]]). Same arithmetic, same ranking ⇒
    * the `text_bm25_topk` oracle applies verbatim — a live↔indexed
    * drift surfaces as a hash mismatch. Index built under target/
    * keyed on the immutable fixture dir. */
  val bm25Indexed = Q(
    "text_bm25_indexed",
    (s, d) => {
      val path = "target/bm25_index_" +
        java.lang.Integer.toHexString(d.hashCode)
      if (!Retrieval.bm25IndexExists(s, path))
        Retrieval.writeBm25Index(Tables.documents(s, d), path)
      Retrieval.bm25TopKIndexed(s, path,
        Seq("hash", "merge", "scan"), k = 15)
    },
    bm25TopK.oracle)

  /** The shared hybrid-retrieval query batch: two queries, one with
    * guaranteed lexical hits ('hash merge scan' are fixture-frequent),
    * one mixing frequent and possibly-absent terms — so the fusion
    * sees full-outer rows from both sides. */
  private def hybridQueries(s: SparkSession) = {
    import s.implicits._
    Seq((0, "hash join merge"), (1, "filter scan index"))
      .toDF("query_id", "query_text")
  }

  private val hybridOracleSql: String = {
    s"""WITH qs AS (SELECT * FROM (VALUES (0, 'hash join merge'),
                      (1, 'filter scan index'))
                    AS t(query_id, query_text)),
        bl AS (SELECT doc_id,
                      string_split_regex(trim(lower(coalesce(text, ''))),
                        '\\s+') AS toks
               FROM documents),
        dd AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks
               FROM bl),
        stats AS (SELECT COUNT(*) AS n_docs,
                         CAST(SUM(dl) AS DOUBLE)
                           / CAST(COUNT(*) AS DOUBLE) AS avgdl
                  FROM dd),
        qt AS (SELECT DISTINCT query_id, token FROM (
                 SELECT query_id,
                        unnest(string_split_regex(
                          trim(lower(query_text)), '\\s+')) AS token
                 FROM qs)),
        tok AS (SELECT doc_id, dl, unnest(toks) AS token FROM dd),
        tf AS (SELECT doc_id, dl, token, COUNT(*) AS tf
               FROM tok WHERE token IN (SELECT token FROM qt)
               GROUP BY doc_id, dl, token),
        dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
        lex AS (SELECT qt.query_id, tf.doc_id,
                       ROUND(SUM(
                         ln(1.0 + (CAST(stats.n_docs AS DOUBLE)
                                   - CAST(dfq.df AS DOUBLE) + 0.5)
                                  / (CAST(dfq.df AS DOUBLE) + 0.5))
                         * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
                         / (CAST(tf.tf AS DOUBLE)
                            + 1.2 * ((1.0 - 0.75)
                                     + 0.75 * CAST(tf.dl AS DOUBLE)
                                       / stats.avgdl))), 4) AS bm25
                FROM tf JOIN dfq USING (token) JOIN qt USING (token),
                     stats
                GROUP BY qt.query_id, tf.doc_id),
        lexr AS (SELECT query_id, doc_id, CAST(rk AS INT) AS lex_rank
                 FROM (SELECT query_id, doc_id,
                              ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY bm25 DESC, doc_id) AS rk
                       FROM lex)
                 WHERE rk <= 20),
        dv AS (SELECT doc_id, ${duckdbHashVec("toks")} AS v FROM dd),
        qv AS (SELECT query_id,
                      ${duckdbHashVec(
                        """string_split_regex(
                             trim(lower(query_text)), '\s+')""")} AS q
               FROM qs),
        den AS (SELECT qv.query_id, dv.doc_id,
                       ROUND(list_cosine_similarity(dv.v, qv.q), 4)
                         AS cos_sim
                FROM dv CROSS JOIN qv),
        denr AS (SELECT query_id, doc_id, CAST(rk AS INT) AS dense_rank
                 FROM (SELECT query_id, doc_id,
                              ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, doc_id) AS rk
                       FROM den)
                 WHERE rk <= 20),
        fused AS (SELECT coalesce(l.query_id, r.query_id) AS query_id,
                         coalesce(l.doc_id, r.doc_id) AS doc_id,
                         l.lex_rank, r.dense_rank,
                         ROUND(coalesce(1.0 / (60 + l.lex_rank), 0)
                             + coalesce(1.0 / (60 + r.dense_rank), 0), 6)
                           AS rrf_score
                  FROM lexr l FULL OUTER JOIN denr r
                    ON l.query_id = r.query_id AND l.doc_id = r.doc_id)
        SELECT query_id, doc_id, lex_rank, dense_rank, rrf_score, rank
        FROM (SELECT query_id, doc_id, lex_rank, dense_rank, rrf_score,
                     CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY rrf_score DESC, doc_id) AS INT) AS rank
              FROM fused)
        WHERE rank <= 10
        ORDER BY query_id, rank"""
  }

  /** Hybrid retrieval ([[Retrieval.hybridTopK]]): reciprocal-rank
    * fusion of batch BM25 and dense hash-embed cosine for two queries
    * in ONE plan — the two-tower RAG shape where neither side alone
    * ranks well. FULL row-level oracle: DuckDB recomputes both sides'
    * scores, both per-query rank cuts, the full-outer fusion, every
    * RRF sum and the final ranking. */
  val hybridTopKQ = Q(
    "text_hybrid_rrf",
    (s, d) => Retrieval.hybridTopK(
        Tables.documents(s, d), hybridQueries(s), k = 10, nPerSide = 20)
      .orderBy("query_id", "rank"),
    Some(hybridOracleSql))

  /** Indexed twin of `text_hybrid_rrf`: the lexical side reads the
    * PERSISTED BM25 index (one postings scan for the whole batch —
    * [[Retrieval.hybridTopKIndexed]]); same arithmetic and ranking ⇒
    * the live oracle applies verbatim, a live↔indexed drift is a hash
    * mismatch. */
  val hybridIndexedQ = Q(
    "text_hybrid_indexed",
    (s, d) => {
      val path = "target/bm25_index_" +
        java.lang.Integer.toHexString(d.hashCode)
      if (!Retrieval.bm25IndexExists(s, path))
        Retrieval.writeBm25Index(Tables.documents(s, d), path)
      Retrieval.hybridTopKIndexed(s, path,
          Tables.documents(s, d), hybridQueries(s), k = 10,
          nPerSide = 20)
        .orderBy("query_id", "rank")
    },
    Some(hybridOracleSql))

  /** FULLY index-served twin of `text_hybrid_rrf`: lexical side from
    * the persisted BM25 index AND dense side from the persisted
    * vector tower ([[Retrieval.hybridTopKFullyIndexed]]) — the query
    * batch reads no document text at all. Both towers store exactly
    * what the live paths compute, so the live oracle applies
    * verbatim; a drift in either stored tower is a hash mismatch. */
  val hybridFullyIndexedQ = Q(
    "text_hybrid_fully_indexed",
    (s, d) => {
      val tag = java.lang.Integer.toHexString(d.hashCode)
      val bm25Path = s"target/bm25_index_$tag"
      if (!Retrieval.bm25IndexExists(s, bm25Path))
        Retrieval.writeBm25Index(Tables.documents(s, d), bm25Path)
      val densePath = s"target/dense_index_$tag"
      if (!Retrieval.denseIndexExists(s, densePath))
        Retrieval.writeDenseIndex(Tables.documents(s, d), densePath)
      Retrieval.hybridTopKFullyIndexed(s, bm25Path, densePath,
          hybridQueries(s), k = 10, nPerSide = 20)
        .orderBy("query_id", "rank")
    },
    Some(hybridOracleSql))

  /** MMR diversification ([[Retrieval.mmrDiversify]]): the dedup-aware
    * retrieval re-rank — greedy `argmax λ·rel − (1−λ)·maxSim(selected)`
    * over the dense top-15, k=5, λ=0.7. FULL row-level oracle: DuckDB
    * re-derives the candidate set, the pairwise similarity matrix and
    * the ENTIRE greedy sequence as a recursive CTE (one row per pick,
    * the chosen set carried as a list) — every pick, rank and MMR
    * score checked. */
  val mmrQ = Q(
    "retrieval_mmr",
    (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val q = s.range(1)
        .select(Retrieval.hashEmbed(lit("hash join merge")).as("q"))
      val cands = Tables.documents(s, d)
        .select(col("doc_id"), Retrieval.hashEmbed(col("text")).as("vec"))
        .crossJoin(broadcast(q))
        .select(col("doc_id"), col("vec"),
          round(Similarity.cosine(col("vec"), col("q")), 4).as("rel"))
        .orderBy(col("rel").desc, col("doc_id")).limit(15)
      Retrieval.mmrDiversify(cands, k = 5, lambda = 0.7)
    },
    Some {
      s"""WITH RECURSIVE
          bl AS (SELECT doc_id,
                        string_split_regex(trim(lower(coalesce(text, ''))),
                          '\\s+') AS toks
                 FROM documents),
          dv AS (SELECT doc_id, ${duckdbHashVec("toks")} AS v FROM bl),
          qv AS (SELECT ${duckdbHashVec(
                   """string_split_regex(
                        trim(lower('hash join merge')), '\s+')""")} AS q),
          cand AS (SELECT doc_id, v, rel FROM (
                     SELECT dv.doc_id, dv.v,
                            ROUND(list_cosine_similarity(dv.v, qv.q), 4)
                              AS rel
                     FROM dv, qv
                     ORDER BY rel DESC, doc_id LIMIT 15)),
          sims AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
                          ROUND(list_cosine_similarity(a.v, b.v), 4)
                            AS sim
                   FROM cand a JOIN cand b ON a.doc_id <> b.doc_id),
          sel AS (
            SELECT 1 AS step, [c.doc_id] AS chosen, c.doc_id AS picked,
                   ROUND(0.7 * c.rel - (1.0 - 0.7) * 0.0, 6) AS mmr
            FROM (SELECT doc_id, rel FROM cand
                  ORDER BY ROUND(0.7 * rel - (1.0 - 0.7) * 0.0, 6)
                    DESC, doc_id
                  LIMIT 1) c
            UNION ALL
            SELECT t.step + 1, list_append(t.chosen, t.pick_id),
                   t.pick_id, t.pick_mmr
            FROM (
              SELECT s.step AS step, s.chosen AS chosen,
                     c.doc_id AS pick_id,
                     ROUND(0.7 * c.rel - (1.0 - 0.7) * (
                       SELECT MAX(m.sim) FROM sims m
                       WHERE m.ia = c.doc_id
                         AND list_contains(s.chosen, m.ib)
                     ), 6) AS pick_mmr
              FROM sel s
              JOIN cand c ON NOT list_contains(s.chosen, c.doc_id)
              WHERE s.step < 5
              ORDER BY pick_mmr DESC, pick_id LIMIT 1) t)
          SELECT picked AS doc_id, CAST(step AS INT) AS rank,
                 mmr AS mmr_score
          FROM sel ORDER BY rank"""
    })

  /** The hybrid→MMR SERVING COMPOSITION ([[Retrieval.hybridTopK]] →
    * [[Retrieval.mmrDiversify]]) as one oracle-gated row — the exact
    * chain the CLI ships as `hybrid-search --diversify`: RRF fusion
    * produces the top-15 shortlist (rel = rrf_score), MMR greedily
    * re-ranks it to a diversity-aware top-5. Both piece-oracles
    * existed (`text_hybrid_rrf`'s full-outer fusion,
    * `retrieval_mmr`'s recursive-CTE greedy); this row proves the
    * COMPOSITION: DuckDB re-derives both BM25 and dense sides, the
    * fusion, the 15-row cut, the pairwise similarity matrix and the
    * entire greedy pick sequence in one statement. */
  val pipelineHybridMmr = Q(
    "pipeline_hybrid_mmr",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val qs = Seq((0, "hash join merge")).toDF("query_id", "query_text")
      val fused = Retrieval.hybridTopK(docs, qs, k = 15, nPerSide = 20)
      // join FIRST (15-row broadcast side), embed AFTER: hashEmbed
      // below the join would run for every corpus row to keep 15 —
      // above it, only the shortlist is embedded (corpus-scale work
      // at 100 TB). Same vectors for the surviving rows.
      val cands = fused
        .select(col("doc_id"), col("rrf_score").as("rel"))
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
        .withColumn("vec", Retrieval.hashEmbed(col("text")))
        .drop("text")
      Retrieval.mmrDiversify(cands, k = 5, lambda = 0.7,
        maxCandidates = 15)
    },
    Some {
      s"""WITH RECURSIVE
          qs AS (SELECT 0 AS query_id, 'hash join merge' AS query_text),
          bl AS (SELECT doc_id,
                        string_split_regex(trim(lower(coalesce(text, ''))),
                          '\\s+') AS toks
                 FROM documents),
          dd AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks
                 FROM bl),
          stats AS (SELECT COUNT(*) AS n_docs,
                           CAST(SUM(dl) AS DOUBLE)
                             / CAST(COUNT(*) AS DOUBLE) AS avgdl
                    FROM dd),
          qt AS (SELECT DISTINCT query_id, token FROM (
                   SELECT query_id,
                          unnest(string_split_regex(
                            trim(lower(query_text)), '\\s+')) AS token
                   FROM qs)),
          tok AS (SELECT doc_id, dl, unnest(toks) AS token FROM dd),
          tf AS (SELECT doc_id, dl, token, COUNT(*) AS tf
                 FROM tok WHERE token IN (SELECT token FROM qt)
                 GROUP BY doc_id, dl, token),
          dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
          lex AS (SELECT qt.query_id, tf.doc_id,
                         ROUND(SUM(
                           ln(1.0 + (CAST(stats.n_docs AS DOUBLE)
                                     - CAST(dfq.df AS DOUBLE) + 0.5)
                                    / (CAST(dfq.df AS DOUBLE) + 0.5))
                           * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
                           / (CAST(tf.tf AS DOUBLE)
                              + 1.2 * ((1.0 - 0.75)
                                       + 0.75 * CAST(tf.dl AS DOUBLE)
                                         / stats.avgdl))), 4) AS bm25
                  FROM tf JOIN dfq USING (token) JOIN qt USING (token),
                       stats
                  GROUP BY qt.query_id, tf.doc_id),
          lexr AS (SELECT query_id, doc_id, CAST(rk AS INT) AS lex_rank
                   FROM (SELECT query_id, doc_id,
                                ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY bm25 DESC, doc_id) AS rk
                         FROM lex)
                   WHERE rk <= 20),
          dv AS (SELECT doc_id, ${duckdbHashVec("toks")} AS v FROM dd),
          qv AS (SELECT query_id,
                        ${duckdbHashVec(
                          """string_split_regex(
                               trim(lower(query_text)), '\s+')""")} AS q
                 FROM qs),
          den AS (SELECT qv.query_id, dv.doc_id,
                         ROUND(list_cosine_similarity(dv.v, qv.q), 4)
                           AS cos_sim
                  FROM dv CROSS JOIN qv),
          denr AS (SELECT query_id, doc_id, CAST(rk AS INT) AS dense_rank
                   FROM (SELECT query_id, doc_id,
                                ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, doc_id) AS rk
                         FROM den)
                   WHERE rk <= 20),
          fused AS (SELECT coalesce(l.query_id, r.query_id) AS query_id,
                           coalesce(l.doc_id, r.doc_id) AS doc_id,
                           ROUND(coalesce(1.0 / (60 + l.lex_rank), 0)
                               + coalesce(1.0 / (60 + r.dense_rank), 0), 6)
                             AS rrf_score
                    FROM lexr l FULL OUTER JOIN denr r
                      ON l.query_id = r.query_id AND l.doc_id = r.doc_id),
          cand AS (SELECT f.doc_id, dv.v, f.rrf_score AS rel
                   FROM (SELECT doc_id, rrf_score,
                                ROW_NUMBER() OVER (
                                  ORDER BY rrf_score DESC, doc_id) AS rk
                         FROM fused) f
                   JOIN dv ON f.doc_id = dv.doc_id
                   WHERE f.rk <= 15),
          sims AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
                          ROUND(list_cosine_similarity(a.v, b.v), 4)
                            AS sim
                   FROM cand a JOIN cand b ON a.doc_id <> b.doc_id),
          sel AS (
            SELECT 1 AS step, [c.doc_id] AS chosen, c.doc_id AS picked,
                   ROUND(0.7 * c.rel - (1.0 - 0.7) * 0.0, 6) AS mmr
            FROM (SELECT doc_id, rel FROM cand
                  ORDER BY ROUND(0.7 * rel - (1.0 - 0.7) * 0.0, 6)
                    DESC, doc_id
                  LIMIT 1) c
            UNION ALL
            SELECT t.step + 1, list_append(t.chosen, t.pick_id),
                   t.pick_id, t.pick_mmr
            FROM (
              SELECT s.step AS step, s.chosen AS chosen,
                     c.doc_id AS pick_id,
                     ROUND(0.7 * c.rel - (1.0 - 0.7) * (
                       SELECT MAX(m.sim) FROM sims m
                       WHERE m.ia = c.doc_id
                         AND list_contains(s.chosen, m.ib)
                     ), 6) AS pick_mmr
              FROM sel s
              JOIN cand c ON NOT list_contains(s.chosen, c.doc_id)
              WHERE s.step < 5
              ORDER BY pick_mmr DESC, pick_id LIMIT 1) t)
          SELECT picked AS doc_id, CAST(step AS INT) AS rank,
                 mmr AS mmr_score
          FROM sel ORDER BY rank"""
    })

  /** Unigram LM quality score ([[LanguageModel.scoreUnigram]]): the
    * deterministic perplexity-filter stand-in. The oracle re-learns
    * the same top-1000 vocab (ties broken `(cnt DESC, token)` on both
    * engines, so the cut is exact) and recomputes every document's
    * mean token log-probability with the same OOV floor; rounding to
    * 4 decimals absorbs summation-order float noise. */
  val unigramScore = Q(
    "text_unigram_logprob",
    (s, d) =>
      LanguageModel.scoreUnigram(Tables.documents(s, d))
        .select(
          col("doc_id"), col("n_tokens"),
          round(col("avg_logprob"), 4).as("avg_logprob"))
        .orderBy("doc_id"),
    Some("""WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(
                       trim(lower(coalesce(text, ''))), '\s+')) AS token
              FROM documents),
            counts AS (
              SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
            tot AS (
              SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM counts),
            v AS (
              SELECT token, cnt FROM counts
              ORDER BY cnt DESC, token LIMIT 1000)
            SELECT t.doc_id,
                   COUNT(*) AS n_tokens,
                   ROUND(AVG(ln(
                     coalesce(CAST(v.cnt AS DOUBLE), 0.5) / tot.total)), 4)
                     AS avg_logprob
            FROM toks t LEFT JOIN v USING (token), tot
            GROUP BY t.doc_id ORDER BY t.doc_id"""))

  /** Naive Bayes quality classifier ([[Classifier.nbClassify]]):
    * train on the corpus's own language labels (positive = English),
    * score every document. Full row-level oracle — DuckDB re-learns
    * the vocab (identical tie cut), both class counts, every llr, the
    * prior, and every document's score; the predicted label is pinned
    * on the ROUND-4 score (integer decision surface, per the float-
    * hashing contract). */
  val nbClassifierQ = Q(
    "text_nb_classifier",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Classifier.nbClassify(
          train = docs, label = col("lang") === "en", docs = docs,
          vocabSize = 1000)
        .select(col("doc_id"), col("n_tokens"), col("n_vocab_hits"),
          round(col("nb_score"), 4).as("nb_score"))
        .withColumn("pred_positive", col("nb_score") > 0.0)
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id, lang,
                     unnest(string_split_regex(
                       trim(lower(coalesce(text, ''))), '\s+')) AS token
              FROM documents),
            counts AS (
              SELECT token,
                     COUNT(CASE WHEN lang = 'en' THEN 1 END) AS cnt_pos,
                     COUNT(CASE WHEN lang <> 'en' OR lang IS NULL
                       THEN 1 END) AS cnt_neg
              FROM toks GROUP BY token),
            vocab AS (
              SELECT token, cnt_pos, cnt_neg FROM counts
              ORDER BY (cnt_pos + cnt_neg) DESC, token LIMIT 1000),
            tot AS (
              SELECT SUM(cnt_pos) AS n_pos, SUM(cnt_neg) AS n_neg
              FROM vocab),
            llr AS (
              SELECT token,
                     ln(CAST(cnt_pos + 1 AS DOUBLE) /
                        CAST(tot.n_pos + 1000 AS DOUBLE)) -
                     ln(CAST(cnt_neg + 1 AS DOUBLE) /
                        CAST(tot.n_neg + 1000 AS DOUBLE)) AS llr
              FROM vocab, tot),
            prior AS (
              SELECT ln(CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END)
                          + 1 AS DOUBLE) /
                        CAST(COUNT(CASE WHEN lang <> 'en' OR lang IS NULL
                          THEN 1 END) + 1 AS DOUBLE)) AS log_prior
              FROM documents)
            SELECT t.doc_id,
                   COUNT(*) AS n_tokens,
                   COUNT(l.llr) AS n_vocab_hits,
                   ROUND(SUM(coalesce(l.llr, 0.0)) + ANY_VALUE(p.log_prior),
                     4) AS nb_score,
                   ROUND(SUM(coalesce(l.llr, 0.0)) + ANY_VALUE(p.log_prior),
                     4) > 0.0 AS pred_positive
            FROM toks t LEFT JOIN llr l USING (token), prior p
            GROUP BY t.doc_id ORDER BY t.doc_id"""))

  /** One-row dataset card ([[TextAnalysis.corpusCard]]): the release
    * summary block — sizes, exact-dup rate, language-mix entropy.
    * Exact integers + fixed scalar expressions; full oracle. */
  val corpusCardQ = Q(
    "corpus_card",
    (s, d) => TextAnalysis.corpusCard(Tables.documents(s, d)),
    Some("""WITH base AS (
              SELECT COUNT(*) AS n_docs,
                     CAST(SUM(len(string_split_regex(
                       trim(coalesce(text, '')), '\s+'))) AS BIGINT)
                       AS n_tokens,
                     CAST(SUM(length(coalesce(text, ''))) AS BIGINT)
                       AS n_chars,
                     COUNT(DISTINCT sha256(text)) AS n_distinct_docs
              FROM documents),
            l AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
            lt AS (
              SELECT COUNT(*) AS n_langs, CAST(SUM(n) AS DOUBLE) AS t
              FROM l),
            ent AS (
              SELECT ANY_VALUE(lt.n_langs) AS n_langs,
                     ROUND(SUM(-(l.n / lt.t) * ln(l.n / lt.t)), 4)
                       AS lang_entropy
              FROM l, lt)
            SELECT b.n_docs, b.n_tokens, b.n_chars, b.n_distinct_docs,
                   ROUND(1.0 - CAST(b.n_distinct_docs AS DOUBLE) /
                     b.n_docs, 4) AS exact_dup_rate,
                   ent.n_langs, ent.lang_entropy,
                   ROUND(CAST(b.n_tokens AS DOUBLE) / b.n_docs, 4)
                     AS avg_tokens_per_doc
            FROM base b, ent"""))

  /** Zipf rank-frequency audit ([[TextAnalysis.zipfAudit]]): OLS
    * slope/intercept of ln(freq) on ln(rank) over the top-200 tokens.
    * The regression inputs are per-row quantized integers, so every
    * OLS sum is exact on both engines and the slope is one scalar
    * double expression — no summation-order exposure at all. */
  val zipfAuditQ = Q(
    "text_zipf_audit",
    (s, d) => TextAnalysis.zipfAudit(Tables.documents(s, d), topK = 200),
    Some("""WITH toks AS (
              SELECT unnest(string_split_regex(
                trim(lower(coalesce(text, ''))), '\s+')) AS token
              FROM documents),
            counts AS (
              SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
            stats AS (
              SELECT COUNT(*) AS n_distinct_tokens,
                     CAST(SUM(cnt) AS BIGINT) AS n_tokens
              FROM counts),
            ranked AS (
              SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token)
                       AS rank
              FROM counts ORDER BY cnt DESC, token LIMIT 200),
            pts AS (
              SELECT CAST(ROUND(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT)
                       AS x,
                     CAST(ROUND(ln(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT)
                       AS y
              FROM ranked),
            sums AS (
              SELECT COUNT(*) AS k,
                     CAST(SUM(x) AS BIGINT) AS sx,
                     CAST(SUM(y) AS BIGINT) AS sy,
                     CAST(SUM(x * y) AS BIGINT) AS sxy,
                     CAST(SUM(x * x) AS BIGINT) AS sxx
              FROM pts)
            SELECT stats.n_distinct_tokens, stats.n_tokens,
                   k AS n_fit_points,
                   ROUND(CAST(k * sxy - sx * sy AS DOUBLE) /
                         CAST(k * sxx - sx * sx AS DOUBLE), 4)
                     AS zipf_slope,
                   ROUND(((CAST(sy AS DOUBLE) -
                           (CAST(k * sxy - sx * sy AS DOUBLE) /
                            CAST(k * sxx - sx * sx AS DOUBLE)) *
                           CAST(sx AS DOUBLE)) / CAST(k AS DOUBLE)) / 1e6,
                     4) AS zipf_intercept
            FROM sums, stats"""))

  /** Tokenizer fertility per language ([[TextAnalysis
    * .tokenizerFertility]]): chars per whitespace token — exact
    * integer sums + one display division. */
  val fertilityQ = Q(
    "text_fertility",
    (s, d) => TextAnalysis.tokenizerFertility(Tables.documents(s, d)),
    Some("""SELECT lang,
                   COUNT(*) AS n_docs,
                   CAST(SUM(length(coalesce(text, ''))) AS BIGINT)
                     AS n_chars,
                   CAST(SUM(len(string_split_regex(
                     trim(coalesce(text, '')), '\s+'))) AS BIGINT)
                     AS n_tokens,
                   ROUND(CAST(SUM(length(coalesce(text, ''))) AS DOUBLE) /
                         CAST(SUM(len(string_split_regex(
                           trim(coalesce(text, '')), '\s+'))) AS DOUBLE), 4)
                     AS chars_per_token
            FROM documents GROUP BY lang ORDER BY lang"""))

  /** DSIR-style importance weights ([[Importance.importanceWeights]]):
    * every document's mean hashed-unigram log-ratio against an
    * English-slice target model. Full row-level oracle: DuckDB
    * rebuilds both bucket models with the identical rolling hash and
    * recomputes every score (same round-4 display contract as
    * `text_unigram_logprob`). */
  val dsirWeights = Q(
    "text_dsir_weights",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Importance.importanceWeights(
          raw = docs,
          target = docs.filter(col("lang") === "en"),
          numBuckets = 4096)
        .select(col("doc_id"), col("n_tokens"),
          round(col("avg_log_ratio"), 4).as("avg_log_ratio"))
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (
               SELECT doc_id, lang,
                      unnest(string_split_regex(
                        trim(lower(coalesce(text, ''))), '\\s+')) AS token
               FROM documents),
             f AS (
               SELECT doc_id, lang,
                      ${duckdbTextHash("token || '#dsir'")} % 4096 AS feat
               FROM toks),
             tc AS (
               SELECT feat, COUNT(*) AS cnt_t FROM f
               WHERE lang = 'en' GROUP BY feat),
             rc AS (SELECT feat, COUNT(*) AS cnt_r FROM f GROUP BY feat),
             tot AS (
               SELECT (SELECT SUM(cnt_t) FROM tc) AS n_t,
                      (SELECT SUM(cnt_r) FROM rc) AS n_r)
             SELECT f.doc_id, COUNT(*) AS n_tokens,
                    ROUND(AVG(
                      ln(CAST(coalesce(tc.cnt_t, 0) + 1 AS DOUBLE) /
                         CAST(tot.n_t + 4096 AS DOUBLE)) -
                      ln(CAST(rc.cnt_r + 1 AS DOUBLE) /
                         CAST(tot.n_r + 4096 AS DOUBLE))), 4)
                      AS avg_log_ratio
             FROM f LEFT JOIN tc USING (feat) JOIN rc USING (feat), tot
             GROUP BY f.doc_id ORDER BY f.doc_id"""))

  /** The act step ([[Importance.importanceSelect]]): keep the 100
    * most target-like documents; the per-lang membership (count +
    * id-sum) pins exactly WHICH documents the ranking kept — the
    * selection should visibly skew toward the target language. */
  val dsirSelect = Q(
    "text_dsir_select",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Importance.importanceSelect(
          raw = docs,
          target = docs.filter(col("lang") === "en"),
          n = 100, numBuckets = 4096)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("kept_id_sum"))
        .orderBy("lang")
    },
    Some(s"""WITH toks AS (
               SELECT doc_id, lang,
                      unnest(string_split_regex(
                        trim(lower(coalesce(text, ''))), '\\s+')) AS token
               FROM documents),
             f AS (
               SELECT doc_id, lang,
                      ${duckdbTextHash("token || '#dsir'")} % 4096 AS feat
               FROM toks),
             tc AS (
               SELECT feat, COUNT(*) AS cnt_t FROM f
               WHERE lang = 'en' GROUP BY feat),
             rc AS (SELECT feat, COUNT(*) AS cnt_r FROM f GROUP BY feat),
             tot AS (
               SELECT (SELECT SUM(cnt_t) FROM tc) AS n_t,
                      (SELECT SUM(cnt_r) FROM rc) AS n_r),
             scores AS (
               SELECT f.doc_id,
                      ROUND(AVG(
                        ln(CAST(coalesce(tc.cnt_t, 0) + 1 AS DOUBLE) /
                           CAST(tot.n_t + 4096 AS DOUBLE)) -
                        ln(CAST(rc.cnt_r + 1 AS DOUBLE) /
                           CAST(tot.n_r + 4096 AS DOUBLE))), 4) AS w
               FROM f LEFT JOIN tc USING (feat) JOIN rc USING (feat), tot
               GROUP BY f.doc_id),
             sel AS (
               SELECT doc_id FROM scores
               ORDER BY w DESC, doc_id LIMIT 100)
             SELECT d.lang, COUNT(*) AS n_docs,
                    CAST(SUM(d.doc_id) AS BIGINT) AS kept_id_sum
             FROM documents d JOIN sel USING (doc_id)
             GROUP BY d.lang ORDER BY d.lang"""))

  /** Composed prep pipeline: token-budget mixture sampling → epoch-
    * seeded training order → per-shard doc/token accounting, ONE lazy
    * plan (filter and ordering are narrow projections over the same
    * scan; the only exchange is the final 8-group aggregate). The
    * oracle recomposes both stages in a single DuckDB statement, so
    * the COMPOSITION is verified, not just the pieces — same pattern
    * as `pipeline_curate_split`. */
  val pipelinePrepShards = Q(
    "pipeline_prep_shards",
    (s, d) =>
      Sampling.trainingOrder(
          Sampling.tokenBudgetSample(Tables.documents(s, d), 800L),
          seed = "epoch0", numShards = 8)
        .groupBy("shard")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"),
          sum(col("sort_key")).as("sum_key"))
        .orderBy("shard"),
    Some(s"""WITH t AS (
              SELECT doc_id, source,
                     CAST(len(string_split_regex(trim(text), '\\s+'))
                       AS BIGINT) AS n_tokens,
                     ${duckdbTextHash(
                       "CAST(doc_id AS VARCHAR) || '#budget'")} % 1000000
                       AS b,
                     ${duckdbTextHash(
                       "'epoch0' || '#ord' || CAST(doc_id AS VARCHAR)")}
                       AS sort_key
              FROM documents),
            thr AS (
              SELECT source,
                     least(1000000, 800 * 1000000 // SUM(n_tokens))
                       AS keep_threshold
              FROM t GROUP BY source)
            SELECT t.sort_key % 8 AS shard,
                   COUNT(*) AS n_docs,
                   CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens,
                   CAST(SUM(t.sort_key) AS BIGINT) AS sum_key
            FROM t JOIN thr ON t.source = thr.source
            WHERE t.b < thr.keep_threshold
            GROUP BY 1 ORDER BY shard"""))

  /** Composed RAG retrieval ([[Retrieval.ragRetrieve]]): chunk →
    * hash-bucket embed → cosine top-10, one lazy plan. The oracle
    * recomposes ALL THREE stages — chunk boundaries, the 16-dim
    * feature-hash vectors (nested list comprehensions over the same
    * rolling hash), and the ranked cosine — so the composition is
    * verified end to end, not just the pieces. */
  val ragRetrieve = Q(
    "pipeline_rag_retrieve",
    (s, d) =>
      Retrieval.ragRetrieve(Tables.documents(s, d), "hash join merge"),
    Some(s"""WITH t AS (
              SELECT doc_id,
                     string_split_regex(trim(coalesce(text, '')), '\\s+')
                       AS toks
              FROM documents),
            s AS (
              SELECT doc_id, toks,
                     unnest(generate_series(0, len(toks) - 1, 32))
                       AS start_tok
              FROM t),
            ch AS (
              SELECT doc_id, CAST(start_tok // 32 AS BIGINT) AS chunk_idx,
                     [lower(x) for x in toks[start_tok + 1 : start_tok + 32]]
                       AS ltoks
              FROM s),
            hv AS (
              SELECT doc_id, chunk_idx,
                     [CAST(len(list_filter(
                        [${duckdbTextHash("tok")} % 16 for tok in ltoks],
                        h -> h = j)) AS DOUBLE)
                      for j in range(0, 16)] AS v
              FROM ch),
            qv AS (
              SELECT [CAST(len(list_filter(
                        [${duckdbTextHash("tok")} % 16 for tok in
                          string_split_regex('hash join merge', '\\s+')],
                        h -> h = j)) AS DOUBLE)
                      for j in range(0, 16)] AS q)
            SELECT hv.doc_id, hv.chunk_idx,
                   ROUND(list_cosine_similarity(v, q), 4) AS cos_sim
            FROM hv, qv
            ORDER BY cos_sim DESC, doc_id, chunk_idx LIMIT 10"""))

  /** Multimodal plumbing: binary payload stats per modality. n_bytes is
    * real (payload length); decode metadata is the stub. */
  val mmStats = Q(
    "mm_modality_stats",
    (s, d) => {
      implicit val spark: org.apache.spark.sql.SparkSession = s
      Multimodal.decodeAndProfile(Tables.documents(s, d))
        .select("modality", "n_media", "avg_bytes")
    },
    Some("""SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                        WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
                   COUNT(*) AS n_media,
                   ROUND(AVG(octet_length(encode(text))), 2) AS avg_bytes
            FROM documents GROUP BY 1 ORDER BY modality"""))

  /** Planted-container decode audit: Spark must recover header fields
    * by ACTUALLY PARSING real PNG/WAV containers whose bytes derive
    * from row arithmetic ([[Multimodal.plantedMedia]]); DuckDB
    * recomputes the expected fields from the same arithmetic. A parser
    * regression (endianness, chunk walk, IHDR offset) breaks the row
    * hash — this is the oracle for the real-decode path that
    * `mm_modality_stats` (synthetic-fallback profile) cannot see. */
  val mmDecodePlanted = Q(
    "mm_decode_planted",
    (s, d) => {
      implicit val spark: org.apache.spark.sql.SparkSession = s
      Multimodal.decode(Multimodal.plantedMedia(Tables.documents(s, d)))
        .select(col("media_id"), col("modality"), col("width"),
          col("height"), col("duration_ms"))
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'image'
                        ELSE 'audio' END AS modality,
                   CASE WHEN doc_id % 2 = 0
                        THEN CAST(16 + doc_id % 29 AS INT)
                        ELSE 0 END AS width,
                   CASE WHEN doc_id % 2 = 0
                        THEN CAST(12 + doc_id % 13 AS INT)
                        ELSE 0 END AS height,
                   CASE WHEN doc_id % 2 = 0 THEN CAST(0 AS BIGINT)
                        ELSE CAST((800 + (doc_id % 10) * 80) // 8
                             AS BIGINT) END AS duration_ms
            FROM documents WHERE doc_id < 60 ORDER BY media_id"""))

  /** Pixel-level image dedup over planted PNG variants
    * ([[Multimodal.pixelDedupGroups]]): metadata-wrapped copies (same
    * pixels, different container bytes) MUST group with their
    * originals — only a true decode can see that — while byte-exact
    * copies group at both levels. The oracle re-derives every group
    * size and keeper from the planting arithmetic alone, so a decode
    * that merely hashes bytes fails the row. */
  val mmPixelDedup = Q(
    "mm_pixel_dedup",
    (s, d) => {
      implicit val spark: org.apache.spark.sql.SparkSession = s
      Multimodal.pixelDedupGroups(
          Multimodal.plantedImageVariants(Tables.documents(s, d)))
        .orderBy("media_id")
    },
    Some("""WITH ids AS (
              SELECT doc_id AS id FROM documents
              WHERE doc_id < 60 AND doc_id % 2 = 0),
            rows AS (
              SELECT id AS media_id,
                     CASE WHEN id < 8 THEN 3 WHEN id < 20 THEN 2
                          ELSE 1 END AS pixel_group_size,
                     CASE WHEN id < 8 THEN 2 ELSE 1 END AS byte_group_size,
                     id AS keep_id
              FROM ids
              UNION ALL
              SELECT id + 1000000,
                     CASE WHEN id < 8 THEN 3 ELSE 2 END, 1, id
              FROM ids WHERE id < 20
              UNION ALL
              SELECT id + 2000000, 3, 2, id FROM ids WHERE id < 8)
            SELECT media_id,
                   CAST(pixel_group_size AS BIGINT) AS pixel_group_size,
                   CAST(byte_group_size AS BIGINT) AS byte_group_size,
                   CAST(keep_id AS BIGINT) AS keep_id
            FROM rows ORDER BY media_id"""))

  /** Perceptual (dHash) image near-dup over planted PNG variants
    * ([[Multimodal.perceptualDedupGroups]]): GRAYSCALE re-renders —
    * different pixels AND bytes — MUST group with their originals at
    * the perceptual level, which neither a byte digest nor the exact
    * pixel digest can see; metadata-wrapped pixel-identical copies
    * group at pixel+perceptual. Three nested identity levels
    * (byte ⊆ pixel ⊆ dHash) re-derived by the oracle from the
    * planting arithmetic alone, so a "perceptual" hash that secretly
    * hashes pixels or bytes fails the row. */
  val mmPhashDedup = Q(
    "mm_phash_dedup",
    (s, d) => {
      implicit val spark: org.apache.spark.sql.SparkSession = s
      Multimodal.perceptualDedupGroups(
          Multimodal.plantedPerceptualVariants(Tables.documents(s, d)))
        .orderBy("media_id")
    },
    Some("""WITH ids AS (
              SELECT doc_id AS id FROM documents
              WHERE doc_id < 60 AND doc_id % 2 = 0),
            rows AS (
              SELECT id AS media_id,
                     CASE WHEN id < 8 THEN 3 WHEN id < 20 THEN 2
                          ELSE 1 END AS phash_group_size,
                     CASE WHEN id < 8 THEN 2 ELSE 1 END AS pixel_group_size,
                     1 AS byte_group_size,
                     id AS keep_id
              FROM ids
              UNION ALL
              SELECT id + 1000000,
                     CASE WHEN id < 8 THEN 3 ELSE 2 END, 1, 1, id
              FROM ids WHERE id < 20
              UNION ALL
              SELECT id + 2000000, 3, 2, 1, id FROM ids WHERE id < 8)
            SELECT media_id,
                   CAST(phash_group_size AS BIGINT) AS phash_group_size,
                   CAST(pixel_group_size AS BIGINT) AS pixel_group_size,
                   CAST(byte_group_size AS BIGINT) AS byte_group_size,
                   CAST(keep_id AS BIGINT) AS keep_id
            FROM rows ORDER BY media_id"""))

  /** PCM-level audio dedup over planted WAV variants
    * ([[Multimodal.audioDedupGroups]]) — the audio twin of
    * `mm_pixel_dedup`: LIST-metadata-wrapped copies (same PCM,
    * different container bytes) MUST group with their originals,
    * which only a real RIFF data-chunk decode can see. */
  val mmAudioDedup = Q(
    "mm_audio_dedup",
    (s, d) => {
      implicit val spark: org.apache.spark.sql.SparkSession = s
      Multimodal.audioDedupGroups(
          Multimodal.plantedAudioVariants(Tables.documents(s, d)))
        .orderBy("media_id")
    },
    Some("""WITH ids AS (
              SELECT doc_id AS id FROM documents
              WHERE doc_id < 60 AND doc_id % 2 = 1),
            rows AS (
              SELECT id AS media_id,
                     CASE WHEN id < 8 THEN 3 WHEN id < 20 THEN 2
                          ELSE 1 END AS pixel_group_size,
                     CASE WHEN id < 8 THEN 2 ELSE 1 END AS byte_group_size,
                     id AS keep_id
              FROM ids
              UNION ALL
              SELECT id + 1000000,
                     CASE WHEN id < 8 THEN 3 ELSE 2 END, 1, id
              FROM ids WHERE id < 20
              UNION ALL
              SELECT id + 2000000, 3, 2, id FROM ids WHERE id < 8)
            SELECT media_id,
                   CAST(pixel_group_size AS BIGINT) AS pixel_group_size,
                   CAST(byte_group_size AS BIGINT) AS byte_group_size,
                   CAST(keep_id AS BIGINT) AS keep_id
            FROM rows ORDER BY media_id"""))

  /** Real-image-resize audit over the planted PNGs: ImageIO decode →
    * bilinear scale to maxDim 10 → per-row output dims. The oracle
    * recomputes round(dim · 10/max(w,h)) from the planting arithmetic;
    * both sides do the scale in double with the division first. */
  val mmResizePlanted = Q(
    "mm_resize_planted",
    (s, d) => {
      implicit val spark: org.apache.spark.sql.SparkSession = s
      val imgs = Multimodal.plantedMedia(Tables.documents(s, d))
        .filter(col("modality") === "image")
      Multimodal.resizeImages(imgs, maxDim = 10)
        .select(col("media_id"), col("orig_width"), col("orig_height"),
          col("width"), col("height"))
        .orderBy("media_id")
    },
    Some("""WITH p AS (
              SELECT doc_id AS media_id,
                     CAST(16 + doc_id % 29 AS INT) AS orig_width,
                     CAST(12 + doc_id % 13 AS INT) AS orig_height
              FROM documents WHERE doc_id < 60 AND doc_id % 2 = 0)
            SELECT media_id, orig_width, orig_height,
                   CAST(GREATEST(1, ROUND(orig_width *
                     (10.0 / GREATEST(orig_width, orig_height))))
                     AS INT) AS width,
                   CAST(GREATEST(1, ROUND(orig_height *
                     (10.0 / GREATEST(orig_width, orig_height))))
                     AS INT) AS height
            FROM p ORDER BY media_id"""))

  /** PCM frame-sampling audit over the planted WAVs: one frame every
    * 25 ms at 8 kHz is a 200-sample stride, so n_frames =
    * ceil(nSamples/200) and frame 0 reads sample 0 = ((id·31)%200 −
    * 100)·150 / 32768 — both recomputed by the oracle from the
    * planting arithmetic. Exercises the RIFF chunk walk, blockAlign
    * guard, and little-endian 16-bit sample addressing for real. */
  val mmAudioFrames = Q(
    "mm_audio_frames",
    (s, d) => {
      implicit val spark: org.apache.spark.sql.SparkSession = s
      val wavs = Multimodal.plantedMedia(Tables.documents(s, d))
        .filter(col("modality") === "audio")
      Multimodal.sampleAudioFrames(wavs, everyMs = 25)
        .select(col("media_id"), col("sample_rate"), col("n_frames"),
          round(element_at(col("frames"), 1), 4).as("f0"))
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id, 8000 AS sample_rate,
                   CAST((800 + (doc_id % 10) * 80 + 199) // 200
                        AS INT) AS n_frames,
                   ROUND(((doc_id * 31) % 200 - 100) * 150 / 32768.0, 4)
                     AS f0
            FROM documents WHERE doc_id < 60 AND doc_id % 2 = 1
            ORDER BY media_id"""))

  /** Full curation pipeline audit (exact dedup stage is oracle-able:
    * distinct-content count; the near-dup/quality stages are verified
    * in CurateSpec). */
  /** End-to-end curation audit, oracle-verified: the DuckDB side
    * recomputes every stage independently — exact dedup via sha256
    * grouping, near-dedup via EXACT all-pairs Jaccard at the same 0.85
    * threshold (so any LSH recall shortfall in the engine's candidate
    * generation would surface as a count mismatch — that's the point),
    * and the quality gate from the same length/punct/stopword formula.
    * MinHash is seeded deterministically, so a match is stable, not
    * probabilistic. */
  val curate = Q(
    "curate_audit",
    (s, d) => Curate.auditCounts(Tables.documents(s, d))
      .orderBy(col("n_docs").desc, col("stage")),
    Some("""WITH keep AS (
              SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
            dk AS (
              SELECT d.doc_id, d.text FROM documents d SEMI JOIN keep USING (doc_id)),
            sh AS (
              SELECT doc_id,
                CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
                  THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
                  ELSE list_distinct([array_to_string(string_split_regex(lower(trim(text)), '\s+')[i:i+2], ' ')
                        for i in range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1)])
                END AS s
              FROM dk),
            drops AS (
              SELECT DISTINCT b.doc_id
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE (CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
                  ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                       CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE)
                  END) >= 0.85),
            near AS (SELECT dk.doc_id, dk.text FROM dk ANTI JOIN drops USING (doc_id)),
            q AS (
              SELECT doc_id FROM (
                SELECT doc_id, text,
                  ROUND(CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                    t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t))) AS DOUBLE)
                    / GREATEST(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 1.0), 4) AS stop_ratio,
                  ROUND(CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
                    / GREATEST(CAST(length(text) AS DOUBLE), 1.0), 4) AS punct_ratio
                FROM near)
              WHERE length(text) >= 20
                AND ROUND((LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
                     + (1.0 - LEAST(punct_ratio * 5.0, 1.0))
                     + LEAST(stop_ratio * 5.0, 1.0)) / 3.0, 4) >= 0.25)
            SELECT stage, n_docs FROM (
              SELECT 'input' AS stage, (SELECT COUNT(*) FROM documents) AS n_docs
              UNION ALL
              SELECT 'after_exact_dedup', (SELECT COUNT(*) FROM dk)
              UNION ALL
              SELECT 'curated', (SELECT COUNT(*) FROM q))
            ORDER BY n_docs DESC, stage"""))

  /** Capstone composition: the full curation pipeline feeding the
    * deterministic splitter, reported as the per-(split, language)
    * training-data mix. Every stage is the already-verified operator;
    * the oracle recomposes ALL of them independently in one SQL
    * statement — proving the composed lazy plan, not just each piece,
    * is correct. */
  val pipelineCurateSplit = Q(
    "pipeline_curate_split",
    (s, d) => {
      val curated = Curate.curate(Tables.documents(s, d))
      Sampling.assignSplit(curated)
        .groupBy("split", "lang_pred")
        .agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("quality")), 4).as("avg_quality"))
        .orderBy("split", "lang_pred")
    },
    Some(s"""WITH keep AS (
              SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
            dk AS (
              SELECT d.doc_id, d.text FROM documents d SEMI JOIN keep USING (doc_id)),
            shs AS (
              SELECT doc_id,
                CASE WHEN len(string_split_regex(lower(trim(text)), '\\s+')) < 3
                  THEN [array_to_string(string_split_regex(lower(trim(text)), '\\s+'), ' ')]
                  ELSE list_distinct([array_to_string(string_split_regex(lower(trim(text)), '\\s+')[i:i+2], ' ')
                        for i in range(1, len(string_split_regex(lower(trim(text)), '\\s+')) - 1)])
                END AS s
              FROM dk),
            drops AS (
              SELECT DISTINCT b.doc_id
              FROM shs a JOIN shs b ON a.doc_id < b.doc_id
              WHERE (CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
                  ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                       CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE)
                  END) >= 0.85),
            near AS (SELECT dk.doc_id, dk.text FROM dk ANTI JOIN drops USING (doc_id)),
            toks AS (
              SELECT doc_id, text,
                     string_split_regex(trim(text), '\\s+') AS t
              FROM near),
            hits AS (
              SELECT *,
                CAST(len(list_filter(t, x -> list_contains(
                  ['der','die','und','das','von','zu','mit','den','ein','ist'], x))) AS BIGINT) AS h_de,
                CAST(len(list_filter(t, x -> list_contains(
                  ['the','a','of','and','to','in','is','that','it','for'], x))) AS BIGINT) AS h_en,
                CAST(len(list_filter(t, x -> list_contains(
                  ['el','la','de','que','y','en','un','los','se','por'], x))) AS BIGINT) AS h_es,
                CAST(len(list_filter(t, x -> list_contains(
                  ['le','la','de','et','les','des','un','une','du','que'], x))) AS BIGINT) AS h_fr,
                CAST(len(list_filter(t, x -> list_contains(
                  ['的','一','是','不','了','人','我','在','有','他'], x))) AS BIGINT) AS h_zh
              FROM toks),
            scored AS (
              SELECT doc_id,
                ROUND((LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
                  + (1.0 - LEAST(ROUND(CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
                      AS DOUBLE) / GREATEST(CAST(length(text) AS DOUBLE), 1.0), 4) * 5.0, 1.0))
                  + LEAST(ROUND(h_en / GREATEST(CAST(len(t) AS DOUBLE), 1.0), 4) * 5.0, 1.0))
                  / 3.0, 4) AS quality,
                CASE WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr
                          AND h_de >= h_zh THEN 'de'
                     WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
                     WHEN h_es >= h_fr AND h_es >= h_zh THEN 'es'
                     WHEN h_fr >= h_zh THEN 'fr'
                     ELSE 'zh' END AS lang_pred,
                ${duckdbTextHash("CAST(doc_id AS VARCHAR)")} % 100 AS b,
                length(text) AS n_chars
              FROM hits)
            SELECT CASE WHEN b < 80 THEN 'train'
                        WHEN b < 90 THEN 'val'
                        ELSE 'test' END AS split,
                   lang_pred,
                   COUNT(*) AS n_docs,
                   ROUND(AVG(quality), 4) AS avg_quality
            FROM scored
            WHERE n_chars >= 20 AND quality >= 0.25
            GROUP BY 1, 2 ORDER BY split, lang_pred"""))

  /** Incremental dedup audit: a fresh batch (odd doc_ids + 10 planted
    * exact copies of reference docs, re-id'd ≥1000000) onboarded
    * against the frozen reference corpus (even doc_ids). The oracle
    * recomputes every phase independently — exact drops by text
    * equality, near drops by EXACT cross-corpus all-pairs Jaccard at
    * the same 0.5 threshold — so an LSH recall shortfall in the
    * engine's cross-corpus candidate generation would surface as a
    * count mismatch (same honesty contract as `curate_audit`). */
  val dedupIncremental = Q(
    "dedup_incremental",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val reference = docs.filter(col("doc_id") % 2 === 0)
      val planted = reference.filter(col("doc_id") < 20)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      val incoming = docs.filter(col("doc_id") % 2 === 1)
        .unionByName(planted)
      Dedup.incrementalDedupAudit(incoming, reference)
    },
    Some("""WITH ref AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
            inc AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text FROM documents
              WHERE doc_id % 2 = 0 AND doc_id < 20),
            surv AS (
              SELECT i.doc_id, i.text FROM inc i
              WHERE NOT EXISTS (
                SELECT 1 FROM ref r WHERE r.text = i.text)),
            ish AS (
              SELECT doc_id,
                CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
                  THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
                  ELSE list_distinct([array_to_string(string_split_regex(lower(trim(text)), '\s+')[i:i+2], ' ')
                        for i in range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1)])
                END AS sh
              FROM surv),
            rsh AS (
              SELECT doc_id,
                CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
                  THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
                  ELSE list_distinct([array_to_string(string_split_regex(lower(trim(text)), '\s+')[i:i+2], ' ')
                        for i in range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1)])
                END AS sh
              FROM ref),
            near AS (
              SELECT DISTINCT a.doc_id FROM ish a JOIN rsh b ON
                ROUND(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0
                    THEN 0.0
                    ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                         CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
                  END, 4) >= 0.5)
            SELECT (SELECT COUNT(*) FROM inc) AS n_incoming,
                   (SELECT COUNT(*) FROM inc)
                     - (SELECT COUNT(*) FROM surv) AS n_exact_dropped,
                   (SELECT COUNT(*) FROM near) AS n_near_dropped,
                   (SELECT COUNT(*) FROM surv)
                     - (SELECT COUNT(*) FROM near) AS n_kept"""))

  /** Indexed twin of `dedup_incremental`: the reference corpus's
    * digests/bands/shingles are materialized ONCE to a parquet LSH
    * index ([[Dedup.writeLshIndex]], build-once/probe-many — the
    * onboarding shape where every batch probes the same frozen
    * reference) and the batch is deduped against the INDEX
    * ([[Dedup.incrementalDedupIndexedWithAudit]]). Same phases, same
    * thresholds ⇒ the `dedup_incremental` oracle applies verbatim —
    * a drift between the live and indexed paths surfaces as a count
    * mismatch here. The index is written under target/ keyed on the
    * fixture dir (immutable fixtures; delete target/ to rebuild). */
  val dedupIncrementalIndexed = Q(
    "dedup_incremental_indexed",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val reference = docs.filter(col("doc_id") % 2 === 0)
      val planted = reference.filter(col("doc_id") < 20)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      val incoming = docs.filter(col("doc_id") % 2 === 1)
        .unionByName(planted)
      val path = "target/lsh_index_" +
        java.lang.Integer.toHexString(d.hashCode)
      if (!Dedup.lshIndexExists(s, path))
        Dedup.writeLshIndex(reference, path)
      Dedup.incrementalDedupIndexedWithAudit(incoming, path)._2
    },
    dedupIncremental.oracle)

  /** Numeric PSI drift ([[Drift.psiNumeric]]): even events are the
    * frozen reference, odd events the current batch; equal-width bins
    * off exact reference min/max make every count engine-reproducible.
    * DuckDB recomputes bins, smoothing, and every PSI term. */
  val numericPsi = Q(
    "drift_numeric_psi",
    (s, d) => {
      val ev = Tables.events(s, d)
      Drift.psiNumeric(
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1),
        "value")
    },
    Some("""WITH s AS (
              SELECT CAST(MIN(value) AS DOUBLE) AS lo,
                     CAST(MAX(value) AS DOUBLE) AS hi
              FROM events WHERE event_id % 2 = 0),
            rb AS (
              SELECT CASE WHEN s.lo IS NULL OR s.hi = s.lo THEN 0
                     ELSE LEAST(9, GREATEST(0, CAST(FLOOR((value - s.lo)
                       / ((s.hi - s.lo) / 10)) AS INT))) END AS bin,
                     COUNT(*) AS n_ref
              FROM events, s WHERE event_id % 2 = 0 GROUP BY 1),
            cb AS (
              SELECT CASE WHEN s.lo IS NULL OR s.hi = s.lo THEN 0
                     ELSE LEAST(9, GREATEST(0, CAST(FLOOR((value - s.lo)
                       / ((s.hi - s.lo) / 10)) AS INT))) END AS bin,
                     COUNT(*) AS n_cur
              FROM events, s WHERE event_id % 2 = 1 GROUP BY 1),
            bins AS (
              SELECT COALESCE(rb.bin, cb.bin) AS bin,
                     COALESCE(n_ref, 0) AS n_ref,
                     COALESCE(n_cur, 0) AS n_cur
              FROM rb FULL OUTER JOIN cb ON rb.bin = cb.bin),
            tot AS (
              SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM bins)
            SELECT bin,
                   CAST(n_ref AS BIGINT) AS n_ref,
                   CAST(n_cur AS BIGINT) AS n_cur,
                   ROUND((n_ref + 0.5) / (t_ref + 0.5 * 10), 4) AS ref_frac,
                   ROUND((n_cur + 0.5) / (t_cur + 0.5 * 10), 4) AS cur_frac,
                   ROUND(((n_cur + 0.5) / (t_cur + 0.5 * 10)
                          - (n_ref + 0.5) / (t_ref + 0.5 * 10))
                     * ln(((n_cur + 0.5) / (t_cur + 0.5 * 10))
                          / ((n_ref + 0.5) / (t_ref + 0.5 * 10))), 6)
                     AS psi_term
            FROM bins, tot ORDER BY bin"""))

  /** Tokenizer-coverage audit ([[LanguageModel.oovRateBySource]]):
    * per-source OOV rate against the corpus top-1000 vocab; DuckDB
    * re-learns the vocab with the identical (cnt DESC, token) cut. */
  val oovBySource = Q(
    "text_oov_by_source",
    (s, d) => LanguageModel.oovRateBySource(Tables.documents(s, d)),
    Some("""WITH toks AS (
              SELECT source,
                     unnest(string_split_regex(
                       trim(lower(coalesce(text, ''))), '\s+')) AS token
              FROM documents),
            v AS (
              SELECT token FROM (
                SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token)
              ORDER BY cnt DESC, token LIMIT 1000)
            SELECT t.source,
                   COUNT(*) AS n_tokens,
                   COUNT(CASE WHEN v.token IS NULL THEN 1 END) AS n_oov,
                   ROUND(COUNT(CASE WHEN v.token IS NULL THEN 1 END) /
                     CAST(COUNT(*) AS DOUBLE), 4) AS oov_rate
            FROM toks t LEFT JOIN v ON t.token = v.token
            GROUP BY t.source ORDER BY t.source"""))

  /** Shard reproducibility audit ([[Packing.shardDigests]]): per-shard
    * order-independent content fingerprints; DuckDB recomputes the
    * identical window cumsum and rolling-hash sum. */
  val packShardDigests = Q(
    "pack_shard_digests",
    (s, d) => Packing.shardDigests(Tables.documents(s, d)),
    Some(s"""WITH t AS (
               SELECT doc_id, source,
                      CAST(len(string_split_regex(trim(text), '\\s+'))
                        AS BIGINT) AS n_tokens,
                      doc_id % 8 AS bucket,
                      ${duckdbTextHash(
                        "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')")}
                        AS fp
               FROM documents),
             c AS (
               SELECT source, bucket, n_tokens, fp,
                      SUM(n_tokens) OVER (PARTITION BY source, bucket
                          ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                        - n_tokens AS start_tok
               FROM t)
             SELECT source, CAST(bucket AS BIGINT) AS bucket,
                    CAST(start_tok // 2048 AS BIGINT) AS shard_seq,
                    COUNT(*) AS n_docs,
                    CAST(SUM(fp) AS BIGINT) AS shard_fp
             FROM c
             GROUP BY source, bucket, shard_seq
             ORDER BY source, bucket, shard_seq"""))

  /** BPE application ([[LanguageModel.bpeEncodeCounts]]): the corpus's
    * top-3 learned merges applied to every document as a replace
    * chain, per-doc subword counts before/after. DuckDB re-learns the
    * merges with the identical (cnt DESC, left, right) cut and
    * re-applies the identical chain — the learn→apply loop closed
    * under one oracle. */
  val bpeEncode = Q(
    "text_bpe_encode",
    (s, d) =>
      LanguageModel.bpeEncodeCounts(Tables.documents(s, d))
        .orderBy("doc_id").limit(500),
    Some("""WITH wf AS (
              SELECT word, COUNT(*) AS wfreq FROM (
                SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
                  AS word FROM documents)
              GROUP BY word HAVING length(word) >= 2),
            pairs AS (
              SELECT p[1] AS l, p[2] AS r, SUM(wfreq) AS cnt
              FROM wf, UNNEST([[word[i:i], word[i+1:i+1]]
                               for i in range(1, length(word))]) AS t(p)
              GROUP BY 1, 2),
            top3 AS (
              SELECT l, r, ROW_NUMBER() OVER (ORDER BY cnt DESC, l, r)
                AS rk
              FROM pairs ORDER BY cnt DESC, l, r LIMIT 3),
            enc AS (
              SELECT doc_id, word,
                replace(replace(replace(
                  ' ' || regexp_replace(word, '(.)', '\1 ', 'g'),
                  COALESCE((SELECT ' '||l||' '||r||' ' FROM top3
                            WHERE rk=1), chr(1)),
                  COALESCE((SELECT ' '||l||r||' ' FROM top3
                            WHERE rk=1), chr(1))),
                  COALESCE((SELECT ' '||l||' '||r||' ' FROM top3
                            WHERE rk=2), chr(1)),
                  COALESCE((SELECT ' '||l||r||' ' FROM top3
                            WHERE rk=2), chr(1))),
                  COALESCE((SELECT ' '||l||' '||r||' ' FROM top3
                            WHERE rk=3), chr(1)),
                  COALESCE((SELECT ' '||l||r||' ' FROM top3
                            WHERE rk=3), chr(1))) AS merged
              FROM (SELECT doc_id,
                      unnest(string_split_regex(lower(trim(text)), '\s+'))
                        AS word
                    FROM documents))
            SELECT doc_id,
                   COUNT(*) AS n_words,
                   CAST(SUM(length(word)) AS BIGINT) AS n_sub_before,
                   CAST(SUM(len(string_split(trim(merged), ' ')))
                     AS BIGINT) AS n_sub_after
            FROM enc GROUP BY doc_id ORDER BY doc_id LIMIT 500"""))

  /** Padding-waste profile ([[Packing.paddingWaste]]): per power-of-two
    * length bucket, how many positions padding-to-bucket-max would
    * burn — the measurement that justifies (or kills) sequence
    * packing for a given corpus. Exact arithmetic both sides. */
  val packPaddingWaste = Q(
    "pack_padding_waste",
    (s, d) => Packing.paddingWaste(Tables.documents(s, d)),
    Some("""SELECT bucket,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n) AS BIGINT) AS sum_tokens,
                   CAST(COUNT(*) * bucket AS BIGINT) AS padded_positions,
                   ROUND(1.0 - CAST(SUM(n) AS DOUBLE) /
                     (COUNT(*) * bucket), 4) AS waste_frac
            FROM (SELECT CAST(POWER(2, CEIL(LOG2(GREATEST(n, 1))))
                     AS BIGINT) AS bucket, n
                  FROM (SELECT CAST(len(string_split_regex(trim(text),
                          '\s+')) AS BIGINT) AS n FROM documents))
            GROUP BY bucket ORDER BY bucket"""))

  /** Mixture-design grid ([[Curate.qualityGrid]]): doc counts and
    * token mass per (quality decile × power-of-two length bucket);
    * DuckDB recomputes the full quality formula and both bucketings
    * cell-for-cell. */
  val qualityGrid = Q(
    "curate_quality_grid",
    (s, d) => Curate.qualityGrid(Tables.documents(s, d)),
    Some("""WITH m AS (
              SELECT text,
                CAST(len(string_split_regex(trim(text), '\s+'))
                  AS BIGINT) AS n_tokens,
                ROUND(CAST(len(list_filter(
                    string_split_regex(trim(text), '\s+'),
                    x -> list_contains(
                      ['the','a','of','and','to','in','is','that','it','for'],
                      x))) AS DOUBLE) /
                  GREATEST(CAST(len(string_split_regex(trim(text), '\s+'))
                    AS DOUBLE), 1.0), 4) AS stop_ratio,
                ROUND(CAST(length(regexp_replace(text,
                    '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE) /
                  GREATEST(CAST(length(text) AS DOUBLE), 1.0), 4)
                  AS punct_ratio
              FROM documents),
            q AS (
              SELECT n_tokens,
                ROUND((LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
                       + (1.0 - LEAST(punct_ratio * 5.0, 1.0))
                       + LEAST(stop_ratio * 5.0, 1.0)) / 3.0, 4)
                  AS quality
              FROM m)
            SELECT CAST(LEAST(9, FLOOR(quality * 10)) AS INT) AS q_decile,
                   CAST(POWER(2, CEIL(LOG2(GREATEST(n_tokens, 1))))
                     AS BIGINT) AS len_bucket,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
            FROM q
            GROUP BY q_decile, len_bucket
            ORDER BY q_decile, len_bucket"""))

  /** Referential-integrity audit ([[Curate.coverageAudit]]): matched
    * doc↔embedding rows, orphans on each side, id-sum fingerprints —
    * the pre-training join-coverage check. */
  val coverageAudit = Q(
    "curate_coverage_audit",
    (s, d) =>
      Curate.coverageAudit(Tables.documents(s, d), Tables.embeddings(s, d)),
    Some("""SELECT COUNT(CASE WHEN d.doc_id IS NOT NULL
                     AND e.vec_id IS NOT NULL THEN 1 END) AS n_matched,
                   COUNT(CASE WHEN e.vec_id IS NULL THEN 1 END)
                     AS n_docs_without_vec,
                   COUNT(CASE WHEN d.doc_id IS NULL THEN 1 END)
                     AS n_vecs_without_doc,
                   CAST(COALESCE(SUM(CASE WHEN e.vec_id IS NULL
                     THEN d.doc_id END), 0) AS BIGINT)
                     AS orphan_doc_id_sum,
                   CAST(COALESCE(SUM(CASE WHEN d.doc_id IS NULL
                     THEN e.vec_id END), 0) AS BIGINT)
                     AS orphan_vec_id_sum
            FROM documents d FULL OUTER JOIN embeddings e
              ON d.doc_id = e.vec_id"""))

  /** Markup stripping ([[TextAnalysis.stripMarkup]]): tags planted
    * around every doc_id % 3 = 0 text (plus escaped entities, with an
    * `&amp;lt;` that must survive as literal `&lt;`) are removed and
    * entities unescaped — the oracle replays the identical
    * tag → entity → whitespace replace chain with RE2 global
    * replaces, character for character. */
  val stripMarkupQ = Q(
    "text_strip_markup",
    (s, d) => {
      val planted = Tables.documents(s, d).select(
        col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("<div class=\"x\"> "), col("text"),
            lit(" </div> <br/> &amp;lt; &quot;q&#39;")))
          .otherwise(col("text")).as("text"))
      planted.select(col("doc_id"),
          TextAnalysis.stripMarkup(col("text")).as("clean_text"))
        .orderBy("doc_id").limit(500)
    },
    Some("""WITH planted AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0
                       THEN '<div class="x"> ' || text ||
                            ' </div> <br/> &amp;lt; &quot;q&#39;'
                       ELSE text END AS t
              FROM documents)
            SELECT doc_id,
                   trim(regexp_replace(
                     regexp_replace(regexp_replace(regexp_replace(
                       regexp_replace(regexp_replace(regexp_replace(
                         t, '<[^>]*>', ' ', 'g'),
                       '&lt;', '<', 'g'), '&gt;', '>', 'g'),
                       '&quot;', '"', 'g'), '&#39;', '''', 'g'),
                     '&amp;', '&', 'g'), '\s+', ' ', 'g')) AS clean_text
            FROM planted
            ORDER BY doc_id LIMIT 500"""))

  /** Top bigrams per source ([[TextAnalysis.topNgramsBySource]]):
    * exact integer occurrence counts, ties cut (count DESC, gram ASC)
    * — DuckDB rebuilds the per-source bigram table and the ranking
    * row for row. */
  val topNgramsQ = Q(
    "text_top_ngrams",
    (s, d) =>
      TextAnalysis.topNgramsBySource(Tables.documents(s, d), n = 2, k = 5)
        .orderBy("source", "rank"),
    Some("""WITH tok AS (
              SELECT source,
                     string_split_regex(lower(trim(text)), '\s+') AS ts
              FROM documents WHERE text IS NOT NULL),
            g AS (
              SELECT source, ts[t.i] || ' ' || ts[t.i + 1] AS gram
              FROM tok, UNNEST(range(1, len(ts))) AS t(i)),
            c AS (
              SELECT source, gram, COUNT(*) AS n_occurrences
              FROM g GROUP BY source, gram),
            r AS (
              SELECT source, gram, n_occurrences,
                     CAST(ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY n_occurrences DESC, gram) AS INT) AS rank
              FROM c)
            SELECT source, gram, n_occurrences, rank
            FROM r WHERE rank <= 5 ORDER BY source, rank"""))

  /** Canonical normalization audit ([[TextAnalysis.normalizeText]]):
    * per-doc normalized length, token count, and digest prefix —
    * DuckDB applies the identical lowercase → `\p{Cc}`→space →
    * whitespace-collapse → trim chain (both regex engines accept the
    * same pattern strings) and must reproduce every digest. */
  val textNormalize = Q(
    "text_normalize",
    (s, d) => {
      val t = TextAnalysis.normalizeText(col("text"))
      Tables.documents(s, d)
        .filter(col("doc_id") < 200)
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_raw"),
          length(t).cast("long").as("n_norm"),
          substring(sha2(t, 256), 1, 8).as("digest8"),
          when(t === "", lit(0L))
            .otherwise(size(split(t, " ")).cast("long")).as("n_tok"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_raw,
                   CAST(length(norm) AS BIGINT) AS n_norm,
                   substring(sha256(norm), 1, 8) AS digest8,
                   CAST(CASE WHEN norm = '' THEN 0
                        ELSE len(string_split(norm, ' ')) END
                     AS BIGINT) AS n_tok
            FROM (SELECT doc_id, text,
                    trim(regexp_replace(regexp_replace(lower(text),
                      '\p{Cc}', ' ', 'g'), '\s+', ' ', 'g')) AS norm
                  FROM documents WHERE doc_id < 200)
            ORDER BY doc_id"""))

  /** Corpus-level line dedup (the C4 boilerplate rule): drop every
    * line occurring in ≥2 distinct documents, reassemble survivors in
    * order. The fixture corpus is single-line, so BOTH engines first
    * derive a multi-line text deterministically (lines of 8 tokens —
    * same derive-then-verify pattern as the planted multimodal
    * oracles); the dedup itself — frequencies, removal, ordered
    * reassembly, digest — is recomputed end-to-end in DuckDB. */
  val lineDedup = Q(
    "dedup_lines_corpus",
    (s, d) => {
      val toks = split(trim(col("text")), "\\s+")
      val lined = Tables.documents(s, d).select(
        col("doc_id"),
        array_join(
          transform(sequence(lit(0), size(toks) - 1, lit(8)),
            st => array_join(slice(toks, st + 1, lit(8)), " ")),
          "\n").as("text"))
      LineDedup.dedupCorpusLines(lined, minDocFreq = 2)
        .select(
          col("doc_id"), col("n_lines"), col("n_kept"), col("n_removed"),
          substring(sha2(col("kept_text"), 256), 1, 16).as("kept_digest"))
        .orderBy("doc_id")
        .limit(500)
    },
    Some("""WITH toks AS (
              SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
              FROM documents),
            lined AS (
              SELECT doc_id,
                     list_transform(range(0, GREATEST(len(t), 1), 8),
                       s -> array_to_string(t[s+1:s+8], ' ')) AS lines
              FROM toks),
            exploded AS (
              SELECT doc_id,
                     unnest(lines) AS line,
                     unnest(range(1, len(lines)+1)) AS pos
              FROM lined),
            norm AS (
              SELECT doc_id, trim(line) AS line, pos
              FROM exploded WHERE trim(line) <> ''),
            freq AS (
              SELECT line, COUNT(DISTINCT doc_id) AS n_docs
              FROM norm GROUP BY line),
            kept AS (
              SELECT n.doc_id, n.line, n.pos
              FROM norm n JOIN freq f USING (line) WHERE f.n_docs < 2),
            agg AS (
              SELECT doc_id, COUNT(*) AS n_kept,
                     string_agg(line, chr(10) ORDER BY pos) AS kept_text
              FROM kept GROUP BY doc_id),
            tot AS (
              SELECT doc_id, COUNT(*) AS n_lines FROM norm GROUP BY doc_id)
            SELECT d.doc_id,
                   COALESCE(t.n_lines, 0) AS n_lines,
                   COALESCE(a.n_kept, 0) AS n_kept,
                   COALESCE(t.n_lines, 0) - COALESCE(a.n_kept, 0) AS n_removed,
                   substring(sha256(COALESCE(a.kept_text, '')), 1, 16)
                     AS kept_digest
            FROM documents d
            LEFT JOIN tot t USING (doc_id)
            LEFT JOIN agg a USING (doc_id)
            ORDER BY doc_id LIMIT 500"""))

  /** The semDedup SCALE tier, oracle-checked deterministically: at
    * threshold 0.95 the fixture's natural pairs are all far below
    * (max pair cosine ≈ 0.51), so the only dominance pairs are the
    * two planted exact clones of vec 50 — and identical vectors
    * share every LSH bucket by construction, so the candidate pass
    * finds them with certainty and the approximate tier's output
    * equals the exact dominance rule the oracle recomputes (the same
    * no-false-negatives construction as `llm_contamination_bloom`).
    * Clone ids keep the low-id original: priority ties on
    * cos_to_centroid break to the lower id. */
  val semDedupLshQ = Q(
    "emb_semdedup_lsh",
    (s, d) => {
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val clones = emb.filter(col("vec_id") === 50)
        .crossJoin(broadcast(
          s.range(2).select((col("id") + 9000001L).as("clone_id"))))
        .select(col("clone_id").as("vec_id"), col("embedding"))
      Similarity.semDedupMarksLsh(
        emb.unionByName(clones), kCentroids = 8, minCosine = 0.95)
        .select("vec_id", "centroid_id", "keep")
        .orderBy("vec_id")
    },
    Some("""WITH corpus AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings
              UNION ALL
              SELECT 9000001 + r.range AS vec_id,
                     CAST(e.embedding AS DOUBLE[]) AS v
              FROM embeddings e, range(2) r WHERE e.vec_id = 50),
            c AS (
              SELECT vec_id AS c_id, v AS c_vec
              FROM corpus ORDER BY vec_id LIMIT 8),
            scored AS (
              SELECT e.vec_id, c.c_id,
                     ROUND(list_cosine_similarity(e.v, c.c_vec), 6) AS cos
              FROM corpus e CROSS JOIN c),
            best AS (
              SELECT vec_id, c_id, cos,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY cos DESC, c_id) AS rk
              FROM scored),
            asg AS (
              SELECT b.vec_id, b.c_id AS centroid_id,
                     ROUND(b.cos, 4) AS cc, e.v
              FROM best b JOIN corpus e USING (vec_id)
              WHERE b.rk = 1)
            SELECT a.vec_id, a.centroid_id,
                   NOT EXISTS (
                     SELECT 1 FROM asg u
                     WHERE u.centroid_id = a.centroid_id
                       AND ROUND(list_cosine_similarity(u.v, a.v), 4)
                             >= 0.95
                       AND (u.cc > a.cc OR
                            (u.cc = a.cc AND u.vec_id < a.vec_id))
                   ) AS keep
            FROM asg a
            ORDER BY a.vec_id"""))

  /** Substring-span dedup: remove every 8-token window that occurs in
    * ≥2 distinct documents, reassemble, report per doc. The engine
    * ships only xxhash64 window keys through its shuffles; the oracle
    * recomputes the whole pipeline string-keyed (same output unless a
    * 64-bit collision exists in the fixture — none does), including
    * tokenizer convention (blank → one empty token) and single-space
    * reassembly. First 500 docs by id. */
  val spanDedup = Q(
    "dedup_spans_corpus",
    (s, d) =>
      SpanDedup.dedupCorpusSpans(
        Tables.documents(s, d), windowLen = 8, minDf = 2)
        .orderBy("doc_id")
        .limit(500),
    Some("""WITH tok AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(coalesce(text, ''))),
                       '\s+') AS ts
              FROM documents),
            win AS (
              SELECT doc_id, t.i AS pos,
                     array_to_string(ts[t.i:t.i+7], ' ') AS w
              FROM tok, UNNEST(range(1, greatest(len(ts) - 6, 1))) AS t(i)),
            hot AS (
              SELECT w FROM win GROUP BY w
              HAVING COUNT(DISTINCT doc_id) >= 2),
            covered AS (
              SELECT DISTINCT doc_id, pos + o.off AS tp
              FROM win JOIN hot USING (w),
                   UNNEST(range(0, 8)) AS o(off)),
            tokens AS (
              SELECT doc_id, t.i AS tp, ts[t.i] AS tok
              FROM tok, UNNEST(range(1, len(ts) + 1)) AS t(i)),
            kept AS (
              SELECT k.doc_id,
                     COUNT(*) AS n_tokens,
                     CAST(COUNT(c.tp) AS BIGINT) AS n_removed,
                     COALESCE(string_agg(
                       CASE WHEN c.tp IS NULL THEN k.tok END, ' '
                       ORDER BY k.tp), '') AS kept_text
              FROM tokens k
              LEFT JOIN covered c
                ON c.doc_id = k.doc_id AND c.tp = k.tp
              GROUP BY k.doc_id)
            SELECT d.doc_id,
                   COALESCE(kp.n_tokens, 0) AS n_tokens,
                   COALESCE(kp.n_removed, 0) AS n_removed,
                   COALESCE(kp.kept_text, '') AS kept_text
            FROM documents d LEFT JOIN kept kp USING (doc_id)
            ORDER BY doc_id LIMIT 500"""))

  /** Intra-document span dedup ([[SpanDedup.dedupDocSpans]]): remove
    * tokens covered by REPEAT occurrences of a 3-token window within
    * the same document — the in-document repetition act step
    * (`text_repetition` is the signal). The oracle recomputes
    * string-keyed first-occurrence positions, the repeat coverage and
    * every reassembled document, so the hash-keyed engine path is
    * verified end to end. */
  val spanDedupIntra = Q(
    "dedup_spans_intradoc",
    (s, d) =>
      SpanDedup.dedupDocSpans(Tables.documents(s, d), windowLen = 3)
        .orderBy("doc_id")
        .limit(500),
    Some("""WITH tok AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(coalesce(text, ''))),
                       '\s+') AS ts
              FROM documents),
            win AS (
              SELECT doc_id, t.i AS pos,
                     array_to_string(ts[t.i:t.i+2], ' ') AS w
              FROM tok, UNNEST(range(1, greatest(len(ts) - 1, 1))) AS t(i)),
            firstpos AS (
              SELECT doc_id, w, MIN(pos) AS fp FROM win
              GROUP BY doc_id, w),
            covered AS (
              SELECT DISTINCT win.doc_id, win.pos + o.off AS tp
              FROM win JOIN firstpos USING (doc_id, w),
                   UNNEST(range(0, 3)) AS o(off)
              WHERE win.pos > firstpos.fp),
            tokens AS (
              SELECT doc_id, t.i AS tp, ts[t.i] AS tok
              FROM tok, UNNEST(range(1, len(ts) + 1)) AS t(i)),
            kept AS (
              SELECT k.doc_id,
                     COUNT(*) AS n_tokens,
                     CAST(COUNT(c.tp) AS BIGINT) AS n_removed,
                     COALESCE(string_agg(
                       CASE WHEN c.tp IS NULL THEN k.tok END, ' '
                       ORDER BY k.tp), '') AS kept_text
              FROM tokens k
              LEFT JOIN covered c
                ON c.doc_id = k.doc_id AND c.tp = k.tp
              GROUP BY k.doc_id)
            SELECT d.doc_id,
                   COALESCE(kp.n_tokens, 0) AS n_tokens,
                   COALESCE(kp.n_removed, 0) AS n_removed,
                   COALESCE(kp.kept_text, '') AS kept_text
            FROM documents d LEFT JOIN kept kp USING (doc_id)
            ORDER BY doc_id LIMIT 500"""))

  /** Deep-clean composition over the new dedup family — span dedup,
    * then exact dedup on the CLEANED text (span removal collapses
    * boilerplate-differing docs onto identical remainders that plain
    * exact dedup misses), per-source audit. One lazy plan; the oracle
    * recomposes every stage string-keyed in a single statement. */
  val deepClean = Q(
    "pipeline_deep_clean",
    (s, d) =>
      SpanDedup.deepCleanStats(
        Tables.documents(s, d), windowLen = 8, minDf = 2)
        .orderBy("source"),
    Some("""WITH tok AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(coalesce(text, ''))),
                       '\s+') AS ts
              FROM documents),
            win AS (
              SELECT doc_id, t.i AS pos,
                     array_to_string(ts[t.i:t.i+7], ' ') AS w
              FROM tok, UNNEST(range(1, greatest(len(ts) - 6, 1))) AS t(i)),
            hot AS (
              SELECT w FROM win GROUP BY w
              HAVING COUNT(DISTINCT doc_id) >= 2),
            covered AS (
              SELECT DISTINCT doc_id, pos + o.off AS tp
              FROM win JOIN hot USING (w),
                   UNNEST(range(0, 8)) AS o(off)),
            tokens AS (
              SELECT doc_id, t.i AS tp, ts[t.i] AS tok
              FROM tok, UNNEST(range(1, len(ts) + 1)) AS t(i)),
            kept AS (
              SELECT k.doc_id,
                     COUNT(*) AS n_tokens,
                     CAST(COUNT(c.tp) AS BIGINT) AS n_removed,
                     COALESCE(string_agg(
                       CASE WHEN c.tp IS NULL THEN k.tok END, ' '
                       ORDER BY k.tp), '') AS kept_text
              FROM tokens k
              LEFT JOIN covered c
                ON c.doc_id = k.doc_id AND c.tp = k.tp
              GROUP BY k.doc_id),
            clean AS (
              SELECT d.doc_id, d.source,
                     COALESCE(kp.n_tokens, 0) AS n_tokens,
                     COALESCE(kp.n_removed, 0) AS n_removed,
                     COALESCE(kp.kept_text, '') AS kept_text
              FROM documents d LEFT JOIN kept kp USING (doc_id)),
            rked AS (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY sha256(kept_text) ORDER BY doc_id) AS rk
              FROM clean)
            SELECT source,
                   COUNT(*) AS n_docs,
                   COUNT(CASE WHEN n_removed = n_tokens
                              AND n_tokens > 0 THEN 1 END) AS n_emptied,
                   COUNT(CASE WHEN rk > 1 THEN 1 END) AS n_exact_dropped,
                   COUNT(CASE WHEN rk = 1 THEN 1 END) AS n_kept,
                   CAST(SUM(n_tokens) AS BIGINT) AS tokens_in,
                   CAST(SUM(CASE WHEN rk = 1 THEN n_tokens - n_removed
                                 ELSE 0 END) AS BIGINT) AS tokens_kept
            FROM rked GROUP BY source ORDER BY source"""))

  /** Shared DuckDB CTE for the novelty oracles: k=3 word shingles per
    * doc (same list-comprehension idiom the ngramJaccard oracle pins
    * against the codegen WordShingles expression). */
  private val noveltyCte =
    """WITH sh AS (
              SELECT doc_id, source,
                CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
                  THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
                  ELSE list_distinct([array_to_string(string_split_regex(lower(trim(text)), '\s+')[i:i+2], ' ')
                        for i in range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1)])
                END AS s
              FROM documents),
            ref AS (
              SELECT DISTINCT unnest(s) AS shingle FROM sh
              WHERE source = 'src0'),
            cand AS (
              SELECT doc_id, unnest(s) AS shingle FROM sh
              WHERE source <> 'src0'),
            novel AS (
              SELECT doc_id, COUNT(*) AS n_novel FROM cand
              WHERE shingle NOT IN (SELECT shingle FROM ref)
              GROUP BY doc_id),
            tot AS (
              SELECT doc_id, COUNT(*) AS n_shingles FROM cand
              GROUP BY doc_id),
            perdoc AS (
              SELECT d.doc_id,
                     COALESCE(t.n_shingles, 0) AS n_shingles,
                     COALESCE(nv.n_novel, 0) AS n_novel,
                     CASE WHEN COALESCE(t.n_shingles, 0) = 0 THEN 1.0
                          ELSE ROUND(CAST(COALESCE(nv.n_novel, 0) AS DOUBLE) /
                                     CAST(t.n_shingles AS DOUBLE), 4)
                     END AS novelty
              FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
              LEFT JOIN tot t USING (doc_id)
              LEFT JOIN novel nv USING (doc_id))"""

  /** Per-doc n-gram novelty of every non-src0 document against the
    * src0 reference corpus — the acquisition-value audit (inverse of
    * the contamination check): shingle-keyed anti join, no doc×doc. */
  val noveltyPerDoc = Q(
    "text_novelty_vs_ref",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Novelty.noveltyVsReference(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), k = 3)
        .orderBy("doc_id")
        .limit(500)
    },
    Some(noveltyCte +
      " SELECT doc_id, n_shingles, n_novel, novelty FROM perdoc" +
      " ORDER BY doc_id LIMIT 500"))

  /** Bloom-pruned novelty — the too-big-to-join reference shape.
    * Shares [[noveltyPerDoc]]'s oracle VERBATIM: Bloom filters have no
    * false negatives, so the sketch pre-prune must be row-identical to
    * the exact anti join (the same same-oracle construction as
    * `llm_contamination_bloom`). */
  val noveltyBloom = Q(
    "text_novelty_bloom",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Novelty.noveltyVsReferenceBloom(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), k = 3)
        .orderBy("doc_id")
        .limit(500)
    },
    Some(noveltyCte +
      " SELECT doc_id, n_shingles, n_novel, novelty FROM perdoc" +
      " ORDER BY doc_id LIMIT 500"))

  /** Corpus roll-up of the novelty audit (go/no-go row for ingesting
    * the candidate source). */
  val noveltySummaryQ = Q(
    "text_novelty_summary",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Novelty.noveltySummary(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), k = 3)
    },
    Some(noveltyCte +
      """ SELECT COUNT(*) AS n_docs,
                 COALESCE(ROUND(AVG(novelty), 4), 0.0) AS mean_novelty,
                 CAST(SUM(CASE WHEN novelty = 1.0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_fully_novel,
                 CAST(SUM(CASE WHEN novelty = 0.0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_fully_seen
          FROM perdoc"""))

  /** Nearest-centroid corpus profile over a FIXED deterministic
    * centroid table (the 8 lowest-id vectors) — no k-means
    * iterations, so DuckDB re-derives the assignment row for row
    * (the learned variant is ivfKmeansAssign, pinned in
    * SimilaritySpec). Centroids broadcast; the corpus never
    * shuffles before the ≤k-key aggregate. */
  val clusterProfile = Q(
    "emb_cluster_profile",
    (s, d) =>
      Similarity.fixedCentroidProfile(Tables.embeddings(s, d), k = 8)
        .orderBy("centroid_id"),
    Some("""WITH c AS (
              SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_vec
              FROM embeddings ORDER BY vec_id LIMIT 8),
            scored AS (
              SELECT e.vec_id, c.c_id,
                     ROUND(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]), c.c_vec), 6) AS cos,
                     sqrt(list_dot_product(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(e.embedding AS DOUBLE[]))) AS nrm
              FROM embeddings e CROSS JOIN c),
            best AS (
              SELECT vec_id, c_id, cos, nrm,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY cos DESC, c_id) AS rk
              FROM scored)
            SELECT c_id AS centroid_id,
                   COUNT(*) AS n_vectors,
                   ROUND(AVG(ROUND(cos, 4)), 4) AS avg_cos,
                   ROUND(AVG(nrm), 4) AS avg_norm
            FROM best WHERE rk = 1
            GROUP BY c_id ORDER BY centroid_id"""))

  /** Embedding outlier scan ([[Similarity.embOutliers]]): per
    * centroid, how many vectors sit below cosine 0.0 to their OWN
    * nearest centroid (near-orthogonal to every density mode — the
    * corrupt-embedding signature), membership pinned by the outlier
    * id-sum. The 0.0 threshold lands near the fixture's p1 (measured:
    * p0.1%≈−0.05/−0.02, p1%≈0.001/0.02 at sf0.01/sf0.1), so real
    * outliers exist at every SF without planting. DuckDB re-derives
    * the assignment and every flag. */
  val embOutliersQ = Q(
    "emb_outliers",
    (s, d) =>
      Similarity.embOutliers(Tables.embeddings(s, d), k = 8, minCos = 0.0)
        .orderBy("centroid_id"),
    Some("""WITH c AS (
              SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_vec
              FROM embeddings ORDER BY vec_id LIMIT 8),
            scored AS (
              SELECT e.vec_id, c.c_id,
                     ROUND(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]), c.c_vec), 6) AS cos
              FROM embeddings e CROSS JOIN c),
            best AS (
              SELECT vec_id, c_id, ROUND(cos, 4) AS cos4,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY cos DESC, c_id) AS rk
              FROM scored)
            SELECT c_id AS centroid_id,
                   COUNT(*) AS n_vectors,
                   COUNT(CASE WHEN cos4 < 0.0 THEN 1 END) AS n_outliers,
                   CAST(COALESCE(SUM(CASE WHEN cos4 < 0.0
                     THEN vec_id END), 0) AS BIGINT) AS outlier_id_sum
            FROM best WHERE rk = 1
            GROUP BY c_id ORDER BY centroid_id"""))

  /** Embedding-space decontamination scan
    * ([[Similarity.semanticContamination]]): every corpus vector's max
    * cosine to the broadcast eval slice (`vec_id % 50 = 0` — the same
    * holdout convention as the n-gram contamination rows), flagged at
    * 0.9. Full row-level oracle: each pairwise cosine is rounded to 4
    * BEFORE the order-independent max, so DuckDB recomputes every
    * row's score and flag bit-for-bit. */
  val semanticContaminationQ = Q(
    "emb_semantic_contamination",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.semanticContamination(
          corpus = emb.filter(pmod(col("vec_id"), lit(50)) =!= 0),
          eval = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
            .select(col("vec_id").as("eval_id"),
              col("embedding").as("eval_vec")),
          minCosine = 0.9)
        .orderBy("vec_id")
    },
    Some("""WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
            ev AS (SELECT vec_id, v FROM e WHERE vec_id % 50 = 0),
            corpus AS (SELECT vec_id, v FROM e WHERE vec_id % 50 <> 0)
            SELECT c.vec_id,
                   MAX(ROUND(list_cosine_similarity(c.v, ev.v), 4))
                     AS max_cos_eval,
                   MAX(ROUND(list_cosine_similarity(c.v, ev.v), 4)) >= 0.9
                     AS contaminated
            FROM corpus c CROSS JOIN ev
            GROUP BY c.vec_id ORDER BY c.vec_id"""))

  /** The act step ([[Similarity.semanticDecontaminate]]): corpus size
    * and id-sum after dropping every eval-adjacent vector — the
    * membership fingerprint pins exactly WHICH rows were removed, not
    * just how many. */
  val semanticDeconQ = Q(
    "emb_semantic_decon",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.semanticDecontaminate(
          corpus = emb.filter(pmod(col("vec_id"), lit(50)) =!= 0),
          eval = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
            .select(col("vec_id").as("eval_id"),
              col("embedding").as("eval_vec")),
          minCosine = 0.9)
        .agg(
          count(lit(1)).as("n_kept"),
          coalesce(sum(col("vec_id")), lit(0L)).as("kept_id_sum"))
    },
    Some("""WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
            ev AS (SELECT vec_id, v FROM e WHERE vec_id % 50 = 0),
            corpus AS (SELECT vec_id, v FROM e WHERE vec_id % 50 <> 0),
            flagged AS (
              SELECT c.vec_id
              FROM corpus c CROSS JOIN ev
              GROUP BY c.vec_id
              HAVING MAX(ROUND(list_cosine_similarity(c.v, ev.v), 4))
                       >= 0.9)
            SELECT COUNT(*) AS n_kept,
                   CAST(COALESCE(SUM(vec_id), 0) AS BIGINT) AS kept_id_sum
            FROM corpus WHERE vec_id NOT IN (SELECT vec_id FROM flagged)"""))

  /** The JL sign recurrence in DuckDB: rolling text-hash of
    * "rp#j#i" mod 2 → ±1, for lambda variables j/i in scope. */
  private def duckdbJlSign(j: String, i: String): String =
    s"""(CASE WHEN list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split_regex(
               'rp#' || CAST($j AS VARCHAR) || '#' || CAST($i AS VARCHAR),
               ''),
               c -> CAST(ascii(c) AS BIGINT))),
           (acc, x) -> (acc * 131 + x) % 2147483647) % 2 = 0
         THEN 1.0 ELSE -1.0 END)"""

  /** Johnson–Lindenstrauss 64→16 projection audit
    * ([[Quantize.jlProject]]): per vector, the first projected
    * component, the projected squared norm, and the norm-preservation
    * ratio. Full row-level oracle — the sign matrix is a pure hash
    * function both engines re-derive, and every sum is a matched left
    * fold (the `emb_quantize_int8` contract). */
  val jlProjectQ = Q(
    "emb_jl_project",
    (s, d) => {
      val proj = Quantize.jlProject(Tables.embeddings(s, d), 64, 16)
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
        .join(proj, Seq("vec_id"))
        .select(
          col("vec_id"),
          round(element_at(col("jl_vec"), 1), 6).as("y0"),
          round(aggregate(col("jl_vec"), lit(0.0),
            (a, x) => a + x * x), 6).as("proj_sqnorm"),
          round(
            aggregate(col("jl_vec"), lit(0.0), (a, x) => a + x * x) /
            aggregate(transform(col("embedding"), x => x.cast("double")),
              lit(0.0), (a, x) => a + x * x), 4).as("norm_ratio"))
        .orderBy("vec_id")
    },
    Some(s"""WITH e AS (
               SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
             p AS (
               SELECT vec_id, v,
                 [list_reduce(list_prepend(0.0,
                    [v[i + 1] * ${duckdbJlSign("j", "i")}
                     for i in range(0, 64)]),
                    (a, b) -> a + b) * 0.25
                  for j in range(0, 16)] AS y
               FROM e)
             SELECT vec_id,
                    ROUND(y[1], 6) AS y0,
                    ROUND(list_reduce(list_prepend(0.0,
                      [t * t for t in y]), (a, b) -> a + b), 6)
                      AS proj_sqnorm,
                    ROUND(list_reduce(list_prepend(0.0,
                        [t * t for t in y]), (a, b) -> a + b) /
                      list_reduce(list_prepend(0.0,
                        [t * t for t in v]), (a, b) -> a + b), 4)
                      AS norm_ratio
             FROM p ORDER BY vec_id"""))

  /** ANN search in the JL-projected space ([[Quantize.jlProject]] →
    * cosine top-10): the compressed-index query path. Unlike the LSH
    * rows this is a FULL row-level oracle — the projection is exactly
    * reproducible, so DuckDB re-derives every projected vector and
    * the complete ranking. */
  val annJlQ = Q(
    "ann_jl_topk",
    (s, d) => {
      val proj = Quantize.jlProject(Tables.embeddings(s, d), 64, 16)
      val query = proj.filter(col("vec_id") === 0)
        .select(col("jl_vec").as("q_vec"))
      proj.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(query))
        .select(col("vec_id"),
          round(Similarity.cosine(col("jl_vec"), col("q_vec")), 4)
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },
    Some(s"""WITH e AS (
               SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
             p AS (
               SELECT vec_id,
                 [list_reduce(list_prepend(0.0,
                    [v[i + 1] * ${duckdbJlSign("j", "i")}
                     for i in range(0, 64)]),
                    (a, b) -> a + b) * 0.25
                  for j in range(0, 16)] AS y
               FROM e),
             q AS (SELECT y FROM p WHERE vec_id = 0)
             SELECT d.vec_id,
                    ROUND(list_cosine_similarity(d.y, q.y), 4) AS cos_sim
             FROM p d, q WHERE d.vec_id <> 0
             ORDER BY cos_sim DESC, d.vec_id LIMIT 10"""))

  /** Product-quantization codes ([[Quantize.pqCodes]]): every vector
    * compressed to 8 codes over a 16-entry deterministic codebook
    * (the 16 lowest-id vectors' sub-vectors — the
    * [[Similarity.fixedCentroidAssign]] trick, so every code is an
    * exact integer DuckDB re-derives: argmin squared-L2 per subspace,
    * distances rounded to 6, ties to the lower codebook index).
    * Codes emitted as a join string to keep the compared surface a
    * plain column. */
  val pqCodesQ = Q(
    "emb_pq_codes",
    (s, d) =>
      Quantize.pqCodes(Tables.embeddings(s, d), m = 8, k = 16)
        .select(col("vec_id"),
          concat_ws("-",
            transform(col("codes"), c => c.cast("string"))).as("codes_str"))
        .orderBy("vec_id"),
    Some("""WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
            cb AS (
              SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ci,
                     v AS c_vec
              FROM e ORDER BY vec_id LIMIT 16),
            scored AS (
              SELECT e.vec_id, sp.s AS s, cb.ci,
                     ROUND(list_sum([
                       (e.v[sp.s * 8 + i] - cb.c_vec[sp.s * 8 + i]) ^ 2
                       for i in range(1, 9)]), 6) AS dist
              FROM e, UNNEST(range(0, 8)) AS sp(s), cb),
            best AS (
              SELECT vec_id, s, ci,
                     ROW_NUMBER() OVER (PARTITION BY vec_id, s
                       ORDER BY dist, ci) AS rk
              FROM scored)
            SELECT vec_id,
                   string_agg(CAST(ci AS VARCHAR), '-' ORDER BY s)
                     AS codes_str
            FROM best WHERE rk = 1
            GROUP BY vec_id ORDER BY vec_id"""))

  /** PQ ADC search ([[Quantize.pqTopK]]): top-10 by asymmetric
    * distance for query vector 7 — DuckDB re-derives the codes, the
    * query↔codebook distance table, and every summed ADC distance;
    * ranking is on the ROUND-4 distance with id tie-break, the
    * `ann_quantized_topk` convention. */
  val pqTopKQ = Q(
    "ann_pq_topk",
    (s, d) => {
      val embs = Tables.embeddings(s, d)
      // headOption + zero-vector fallback: a zero-row corpus must
      // yield zero rows, not a driver NoSuchElementException
      val qv = embs.filter(col("vec_id") === 7)
        .select(col("embedding")).collect().headOption
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
        .getOrElse(Array.fill(64)(0.0))
      Quantize.pqTopK(embs, qv, topK = 10, m = 8, k = 16)
    },
    Some("""WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
            cb AS (
              SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ci,
                     v AS c_vec
              FROM e ORDER BY vec_id LIMIT 16),
            scored AS (
              SELECT e.vec_id, sp.s AS s, cb.ci,
                     ROUND(list_sum([
                       (e.v[sp.s * 8 + i] - cb.c_vec[sp.s * 8 + i]) ^ 2
                       for i in range(1, 9)]), 6) AS dist
              FROM e, UNNEST(range(0, 8)) AS sp(s), cb),
            best AS (
              SELECT vec_id, s, ci,
                     ROW_NUMBER() OVER (PARTITION BY vec_id, s
                       ORDER BY dist, ci) AS rk
              FROM scored),
            q AS (SELECT v FROM e WHERE vec_id = 7),
            dt AS (
              SELECT sp.s AS s, cb.ci,
                     ROUND(list_sum([
                       (q.v[sp.s * 8 + i] - cb.c_vec[sp.s * 8 + i]) ^ 2
                       for i in range(1, 9)]), 6) AS d
              FROM q, UNNEST(range(0, 8)) AS sp(s), cb),
            adc AS (
              SELECT b.vec_id, ROUND(SUM(dt.d), 4) AS adc_dist
              FROM (SELECT * FROM best WHERE rk = 1) b
              JOIN dt ON dt.s = b.s AND dt.ci = b.ci
              GROUP BY b.vec_id)
            SELECT vec_id, adc_dist FROM adc
            ORDER BY adc_dist, vec_id LIMIT 10"""))

  /** IVF-PQ composed search ([[Quantize.ivfPqTopK]]): Lloyd-trained
    * coarse quantizer → probe the 2 best lists → ADC over PQ codes
    * on the probed rows only — the FAISS-style IVFADC serving shape.
    * FULL row-level oracle: DuckDB re-trains both Lloyd rounds,
    * re-ranks the probes, re-derives the codebook, every code, the
    * query distance table, and every summed ADC distance — training,
    * pruning and compressed-domain scoring all checked end to end. */
  val ivfPqTopKQ = Q(
    "ann_ivfpq_topk",
    (s, d) => {
      val embs = Tables.embeddings(s, d)
      val qv = embs.filter(col("vec_id") === 7)
        .select(col("embedding")).collect().headOption
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
        .getOrElse(Array.fill(64)(0.0))
      Quantize.ivfPqTopK(embs, qv, topK = 10, nlist = 4, iters = 2,
        nprobe = 2, m = 8, k = 16, excludeId = 7L)
    },
    Some(s"""${kmeansAssignCtes(k = 4, iters = 2)},
            qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings
                   WHERE vec_id = 7),
            probe AS (SELECT cid FROM (
                        SELECT c.cid,
                               round(list_cosine_similarity(c.c, q.v), 6)
                                 AS qc
                        FROM c2 c CROSS JOIN qv q)
                      ORDER BY qc DESC, cid LIMIT 2),
            cb AS (
              SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ci,
                     v AS c_vec
              FROM emb ORDER BY vec_id LIMIT 16),
            pr AS (
              SELECT af.vec_id, af.v FROM af JOIN probe USING (cid)
              WHERE af.vec_id <> 7),
            scored AS (
              SELECT pr.vec_id, sp.s AS s, cb.ci,
                     ROUND(list_sum([
                       (pr.v[sp.s * 8 + i] - cb.c_vec[sp.s * 8 + i]) ^ 2
                       for i in range(1, 9)]), 6) AS dist
              FROM pr, UNNEST(range(0, 8)) AS sp(s), cb),
            best AS (
              SELECT vec_id, s, ci,
                     ROW_NUMBER() OVER (PARTITION BY vec_id, s
                       ORDER BY dist, ci) AS rk
              FROM scored),
            dt AS (
              SELECT sp.s AS s, cb.ci,
                     ROUND(list_sum([
                       (q.v[sp.s * 8 + i] - cb.c_vec[sp.s * 8 + i]) ^ 2
                       for i in range(1, 9)]), 6) AS d
              FROM qv q, UNNEST(range(0, 8)) AS sp(s), cb),
            adc AS (
              SELECT b.vec_id, ROUND(SUM(dt.d), 4) AS adc_dist
              FROM (SELECT * FROM best WHERE rk = 1) b
              JOIN dt ON dt.s = b.s AND dt.ci = b.ci
              GROUP BY b.vec_id)
            SELECT vec_id, adc_dist FROM adc
            ORDER BY adc_dist, vec_id LIMIT 10"""))

  /** The per-fixture persisted PQ index path (immutable fixtures —
    * delete target/ to rebuild), built once and shared by the two
    * indexed ANN twins below. */
  private def pqIndexPath(d: String): String =
    "target/pq_index_" + java.lang.Integer.toHexString(d.hashCode)

  private def pqIndexFor(s: SparkSession, d: String): String = {
    val path = pqIndexPath(d)
    if (!Quantize.pqIndexExists(s, path))
      Quantize.writePqIndex(Tables.embeddings(s, d), path,
        nlist = 4, iters = 2, m = 8, k = 16)
    path
  }

  private def queryVec7(s: SparkSession, d: String): Array[Double] =
    Tables.embeddings(s, d).filter(col("vec_id") === 7)
      .select(col("embedding")).collect().headOption
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      .getOrElse(Array.fill(64)(0.0))

  /** Indexed twin of `ann_ivfpq_topk`: Lloyd training, the PQ
    * codebook and the coarse assignment are materialized ONCE to a
    * parquet serving index ([[Quantize.writePqIndex]],
    * build-once/probe-many — the deployment shape where every query
    * probes the same frozen corpus) and the search reads ONLY
    * centroids + codebook + the list-filtered code table
    * ([[Quantize.ivfPqTopKIndexed]]). Same training, same codes, same
    * ADC arithmetic ⇒ the `ann_ivfpq_topk` oracle applies verbatim —
    * a drift between the live and indexed paths surfaces as a hash
    * mismatch here. */
  val ivfPqIndexedQ = Q(
    "ann_ivfpq_indexed",
    (s, d) => Quantize.ivfPqTopKIndexed(
      s, pqIndexFor(s, d), queryVec7(s, d), topK = 10, nprobe = 2,
      excludeId = 7L),
    ivfPqTopKQ.oracle)

  /** Indexed twin of `ann_pq_topk`: full ADC over the SAME persisted
    * index's code table (no list filter), codebook derivation
    * amortized into the build — the `ann_pq_topk` oracle applies
    * verbatim. */
  val pqIndexedQ = Q(
    "ann_pq_indexed",
    (s, d) => Quantize.pqTopKIndexed(
      s, pqIndexFor(s, d), queryVec7(s, d), topK = 10),
    pqTopKQ.oracle)

  /** Index-served BATCH ANN ([[Quantize.ivfPqKnnJoinIndexed]]): top-5
    * approximate neighbors for five query vectors in ONE plan against
    * the PERSISTED index — the backfill / hard-negative-mining serving
    * shape. Nothing trains or encodes in-query (the round-14
    * `ivfKnnJoin` batch API re-paid Lloyd per call — this is the
    * amortized form): probes rank on the stored centroids, each
    * query's ADC table rides the broadcast probe pairs into the
    * stored codes, per-query top-k is the bounded heap. FULL row-level
    * oracle: DuckDB re-trains both Lloyd rounds, re-ranks every
    * query's probes, re-derives the codebook, every corpus code, each
    * query's distance table and every summed, ranked ADC distance. */
  val ivfKnnIndexedQ = Q(
    "ann_ivf_knn_indexed",
    (s, d) => {
      val queries = Tables.embeddings(s, d)
        .filter(col("vec_id").isin(1L, 3L, 5L, 7L, 9L))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Quantize.ivfPqKnnJoinIndexed(s, pqIndexFor(s, d), queries,
        k = 5, nprobe = 2)
        .orderBy("q_id", "rank")
    },
    Some(s"""${kmeansAssignCtes(k = 4, iters = 2)},
        q AS (SELECT vec_id AS q_id, v AS qv FROM emb
              WHERE vec_id IN (1, 3, 5, 7, 9)),
        pr AS (SELECT q_id, cid FROM (
                 SELECT q.q_id, c.cid,
                        ROW_NUMBER() OVER (PARTITION BY q.q_id
                          ORDER BY round(
                            list_cosine_similarity(c.c, q.qv), 6) DESC,
                            c.cid) AS rk
                 FROM c2 c CROSS JOIN q)
               WHERE rk <= 2),
        cb AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ci,
                      v AS c_vec
               FROM emb ORDER BY vec_id LIMIT 16),
        scored AS (
          SELECT e.vec_id, sp.s AS s, cb.ci,
                 ROUND(list_sum([
                   (e.v[sp.s * 8 + i] - cb.c_vec[sp.s * 8 + i]) ^ 2
                   for i in range(1, 9)]), 6) AS dist
          FROM emb e, UNNEST(range(0, 8)) AS sp(s), cb),
        codes AS (SELECT vec_id, s, ci FROM (
                    SELECT vec_id, s, ci,
                           ROW_NUMBER() OVER (PARTITION BY vec_id, s
                             ORDER BY dist, ci) AS rk
                    FROM scored)
                  WHERE rk = 1),
        dt AS (SELECT q.q_id, sp.s AS s, cb.ci,
                      ROUND(list_sum([
                        (q.qv[sp.s * 8 + i] - cb.c_vec[sp.s * 8 + i]) ^ 2
                        for i in range(1, 9)]), 6) AS d
               FROM q, UNNEST(range(0, 8)) AS sp(s), cb),
        cand AS (SELECT pr.q_id, af.vec_id
                 FROM af JOIN pr ON af.cid = pr.cid
                 WHERE af.vec_id <> pr.q_id),
        adc AS (SELECT cand.q_id, cand.vec_id,
                       ROUND(SUM(dt.d), 4) AS adc_dist
                FROM cand
                JOIN codes ON codes.vec_id = cand.vec_id
                JOIN dt ON dt.q_id = cand.q_id AND dt.s = codes.s
                       AND dt.ci = codes.ci
                GROUP BY cand.q_id, cand.vec_id)
        SELECT q_id, vec_id, adc_dist, rank FROM (
          SELECT q_id, vec_id, adc_dist,
                 CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY adc_dist, vec_id) AS INT) AS rank
          FROM adc)
        WHERE rank <= 5
        ORDER BY q_id, rank"""))

  /** Exact re-rank ("refine") over the persisted index
    * ([[Quantize.ivfPqTopKReranked]]): ADC is lossy twice (probe
    * pruning + PQ quantization), so the serving path that needs
    * near-exact recall takes a 30-candidate ADC shortlist from the
    * index and re-ranks ONLY those ids by true squared-L2 against the
    * float table (pushed-down `vec_id IN` — per-query float work is
    * shortlist×dim, corpus-independent). FULL row-level oracle:
    * DuckDB re-derives training, probes, codes, every ADC distance,
    * the 30-row shortlist cut AND every exact re-ranked distance. */
  val ivfRerankedQ = Q(
    "ann_ivf_reranked",
    (s, d) => Quantize.ivfPqTopKReranked(
      s, pqIndexFor(s, d), Tables.embeddings(s, d), queryVec7(s, d),
      topK = 10, nprobe = 2, shortlist = 30, excludeId = 7L),
    Some(s"""${kmeansAssignCtes(k = 4, iters = 2)},
            qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings
                   WHERE vec_id = 7),
            probe AS (SELECT cid FROM (
                        SELECT c.cid,
                               round(list_cosine_similarity(c.c, q.v), 6)
                                 AS qc
                        FROM c2 c CROSS JOIN qv q)
                      ORDER BY qc DESC, cid LIMIT 2),
            cb AS (
              SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ci,
                     v AS c_vec
              FROM emb ORDER BY vec_id LIMIT 16),
            pr AS (
              SELECT af.vec_id, af.v FROM af JOIN probe USING (cid)
              WHERE af.vec_id <> 7),
            scored AS (
              SELECT pr.vec_id, sp.s AS s, cb.ci,
                     ROUND(list_sum([
                       (pr.v[sp.s * 8 + i] - cb.c_vec[sp.s * 8 + i]) ^ 2
                       for i in range(1, 9)]), 6) AS dist
              FROM pr, UNNEST(range(0, 8)) AS sp(s), cb),
            best AS (
              SELECT vec_id, s, ci,
                     ROW_NUMBER() OVER (PARTITION BY vec_id, s
                       ORDER BY dist, ci) AS rk
              FROM scored),
            dt AS (
              SELECT sp.s AS s, cb.ci,
                     ROUND(list_sum([
                       (q.v[sp.s * 8 + i] - cb.c_vec[sp.s * 8 + i]) ^ 2
                       for i in range(1, 9)]), 6) AS d
              FROM qv q, UNNEST(range(0, 8)) AS sp(s), cb),
            adc AS (
              SELECT b.vec_id, ROUND(SUM(dt.d), 4) AS adc_dist
              FROM (SELECT * FROM best WHERE rk = 1) b
              JOIN dt ON dt.s = b.s AND dt.ci = b.ci
              GROUP BY b.vec_id),
            sl AS (SELECT vec_id FROM adc
                   ORDER BY adc_dist, vec_id LIMIT 30)
            SELECT e.vec_id,
                   ROUND(list_sum([
                     (e.v[i] - q.v[i]) ^ 2 for i in range(1, 65)]), 4)
                     AS exact_dist
            FROM emb e JOIN sl USING (vec_id) CROSS JOIN qv q
            ORDER BY exact_dist, vec_id LIMIT 10"""))

  /** Batch refine ([[Quantize.ivfPqKnnJoinIndexedReranked]]): each of
    * five queries takes a 20-candidate ADC shortlist from the
    * PERSISTED index in one plan, joins the float table on id (thin
    * hash-shuffle, never a per-query corpus scan) and re-ranks by
    * true squared-L2 — the backfill serving shape with the recall of
    * the shortlist and the cost of the index. FULL row-level oracle:
    * everything `ann_ivf_knn_indexed` derives, plus each query's
    * shortlist cut and every exact re-ranked distance and rank. */
  val ivfKnnRerankedQ = Q(
    "ann_ivf_knn_reranked",
    (s, d) => {
      val queries = Tables.embeddings(s, d)
        .filter(col("vec_id").isin(1L, 3L, 5L, 7L, 9L))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Quantize.ivfPqKnnJoinIndexedReranked(s, pqIndexFor(s, d),
        Tables.embeddings(s, d), queries, k = 5, nprobe = 2,
        shortlistFactor = 4)
        .orderBy("q_id", "rank")
    },
    Some(s"""${kmeansAssignCtes(k = 4, iters = 2)},
        q AS (SELECT vec_id AS q_id, v AS qv FROM emb
              WHERE vec_id IN (1, 3, 5, 7, 9)),
        pr AS (SELECT q_id, cid FROM (
                 SELECT q.q_id, c.cid,
                        ROW_NUMBER() OVER (PARTITION BY q.q_id
                          ORDER BY round(
                            list_cosine_similarity(c.c, q.qv), 6) DESC,
                            c.cid) AS rk
                 FROM c2 c CROSS JOIN q)
               WHERE rk <= 2),
        cb AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ci,
                      v AS c_vec
               FROM emb ORDER BY vec_id LIMIT 16),
        scored AS (
          SELECT e.vec_id, sp.s AS s, cb.ci,
                 ROUND(list_sum([
                   (e.v[sp.s * 8 + i] - cb.c_vec[sp.s * 8 + i]) ^ 2
                   for i in range(1, 9)]), 6) AS dist
          FROM emb e, UNNEST(range(0, 8)) AS sp(s), cb),
        codes AS (SELECT vec_id, s, ci FROM (
                    SELECT vec_id, s, ci,
                           ROW_NUMBER() OVER (PARTITION BY vec_id, s
                             ORDER BY dist, ci) AS rk
                    FROM scored)
                  WHERE rk = 1),
        dt AS (SELECT q.q_id, sp.s AS s, cb.ci,
                      ROUND(list_sum([
                        (q.qv[sp.s * 8 + i] - cb.c_vec[sp.s * 8 + i]) ^ 2
                        for i in range(1, 9)]), 6) AS d
               FROM q, UNNEST(range(0, 8)) AS sp(s), cb),
        cand AS (SELECT pr.q_id, af.vec_id
                 FROM af JOIN pr ON af.cid = pr.cid
                 WHERE af.vec_id <> pr.q_id),
        adc AS (SELECT cand.q_id, cand.vec_id,
                       ROUND(SUM(dt.d), 4) AS adc_dist
                FROM cand
                JOIN codes ON codes.vec_id = cand.vec_id
                JOIN dt ON dt.q_id = cand.q_id AND dt.s = codes.s
                       AND dt.ci = codes.ci
                GROUP BY cand.q_id, cand.vec_id),
        sl AS (SELECT q_id, vec_id FROM (
                 SELECT q_id, vec_id,
                        ROW_NUMBER() OVER (PARTITION BY q_id
                          ORDER BY adc_dist, vec_id) AS srk
                 FROM adc)
               WHERE srk <= 20),
        ex AS (SELECT sl.q_id, sl.vec_id,
                      ROUND(list_sum([
                        (e.v[i] - q.qv[i]) ^ 2 for i in range(1, 65)]), 4)
                        AS exact_dist
               FROM sl
               JOIN emb e ON e.vec_id = sl.vec_id
               JOIN q ON q.q_id = sl.q_id)
        SELECT q_id, vec_id, exact_dist, rank FROM (
          SELECT q_id, vec_id, exact_dist,
                 CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY exact_dist, vec_id) AS INT) AS rank
          FROM ex)
        WHERE rank <= 5
        ORDER BY q_id, rank"""))

  /** SemDeDup-style semantic dedup marks over the fixed-centroid
    * clusters: per vector, keep = no same-cluster vector above the
    * cosine threshold with higher (cos_to_centroid, -id) priority.
    * The threshold (0.35) sits in the fixture's natural pair-cosine
    * tail — ~the 99.9th percentile — so real drops occur without any
    * planting; the oracle re-derives assignment, pairwise cosine and
    * the dominance EXISTS row for row. The hashed output is the MARKS
    * (vec_id, centroid_id, keep) — cos_to_centroid is excluded
    * because a raw-cosine low-order-bit divergence between engines at
    * a ROUND(x,4) boundary (~1 row in 2000 at sf0.1) would flip a
    * display digit while every mark still agrees; same policy in the
    * LSH twin. */
  val semDedupQ = Q(
    "emb_semdedup",
    (s, d) =>
      Similarity.semDedupMarks(
        Tables.embeddings(s, d), kCentroids = 8, minCosine = 0.35)
        .select("vec_id", "centroid_id", "keep")
        .orderBy("vec_id"),
    Some("""WITH c AS (
              SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_vec
              FROM embeddings ORDER BY vec_id LIMIT 8),
            scored AS (
              SELECT e.vec_id, c.c_id,
                     ROUND(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]), c.c_vec), 6) AS cos
              FROM embeddings e CROSS JOIN c),
            best AS (
              SELECT vec_id, c_id, cos,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY cos DESC, c_id) AS rk
              FROM scored),
            asg AS (
              SELECT b.vec_id, b.c_id AS centroid_id,
                     ROUND(b.cos, 4) AS cc,
                     CAST(e.embedding AS DOUBLE[]) AS v
              FROM best b JOIN embeddings e USING (vec_id)
              WHERE b.rk = 1)
            SELECT a.vec_id, a.centroid_id,
                   NOT EXISTS (
                     SELECT 1 FROM asg u
                     WHERE u.centroid_id = a.centroid_id
                       AND ROUND(list_cosine_similarity(u.v, a.v), 4)
                             >= 0.35
                       AND (u.cc > a.cc OR
                            (u.cc = a.cc AND u.vec_id < a.vec_id))
                   ) AS keep
            FROM asg a
            ORDER BY a.vec_id"""))

  /** Hard-negative mining: per query vector, top-5 most-similar
    * corpus vectors with a DIFFERENT label — the contrastive-training
    * batch builder. Same broadcast-queries plan as ann_knn_join with
    * the label predicate fused before the exchange. */
  val hardNegativesQ = Q(
    "ann_hard_negatives",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("label").as("q_label"))
      Similarity.hardNegatives(queries, emb, k = 5)
        .orderBy("q_id", "rank")
    },
    Some("""SELECT q_id, vec_id, label, cos_sim, rank FROM (
              SELECT q.vec_id AS q_id, e.vec_id, e.label,
                     ROUND(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(q.embedding AS DOUBLE[])), 4) AS cos_sim,
                     ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ROUND(list_cosine_similarity(
                         CAST(e.embedding AS DOUBLE[]),
                         CAST(q.embedding AS DOUBLE[])), 4) DESC,
                         e.vec_id) AS rank
              FROM embeddings e,
                   (SELECT vec_id, label, embedding FROM embeddings
                    WHERE vec_id < 5) q
              WHERE e.label <> q.label) t
            WHERE rank <= 5 ORDER BY q_id, rank"""))

  def all: Seq[Q] = Seq(
    lineDedup, spanDedup, spanDedupIntra, deepClean, noveltyPerDoc,
    noveltyBloom, noveltySummaryQ,
    clusterProfile, embOutliersQ, semDedupQ, semDedupLshQ,
    semanticContaminationQ, semanticDeconQ,
    hardNegativesQ,
    dedupStats, dedupKeep, nearDupMinhash, nearDupSimhash, dedupClusters,
    dedupClusterKeep, dedupSweep, ngramJaccard, crossSourceDup,
    containmentPairsQ, containmentDedupQ, sourceMatrixQ, embDriftQ,
    dedupIncremental, dedupIncrementalIndexed, textNormalize,
    annBrute, annLsh, annLshPlanted, annIvf, annIvfPlanted, annIvfTrained,
    annKnnJoin, annIvfRecall, kmeansAssignQ,
    nearDupCosine,
    embCentroids, embNormProfile, kmeansQ, kmeansBalancedQ,
    clusterPurityQ, quantizeInt8,
    annQuantized, pqCodesQ, pqTopKQ, ivfPqTopKQ, ivfPqIndexedQ,
    pqIndexedQ, ivfKnnIndexedQ, ivfRerankedQ, ivfKnnRerankedQ,
    jlProjectQ, annJlQ,
    splitCounts, stratSample, capPerSourceQ, leakageSplit, budgetSample,
    temperatureMix, mixturePlanQ, dsirWeights, dsirSelect,
    epochOrder,
    pipelinePrepShards, packShards, packPaddingWaste, packShardDigests,
    chunkDocs, ragRetrieve, coverageAudit, oovBySource, qualityGrid,
    textTokens, textQuality, gopherRulesQ, gopherFilterQ, langDist,
    textAnalyze, textRepetition,
    boilerplate, stripMarkupQ, topNgramsQ,
    nbClassifierQ, zipfAuditQ, fertilityQ, corpusCardQ,
    winnowFpQ, winnowPairsQ,
    unigramScore, bigramScore, pplBucketsQ, pplKeepQ, bm25TopK,
    bm25Indexed, hybridTopKQ, hybridIndexedQ, hybridFullyIndexedQ,
    mmrQ, pipelineHybridMmr, bpePairs,
    bpeEncode, corpusDrift,
    driftBySource, distinctiveTermsQ, numericPsi, corpusDiffQ,
    pipelineDeconCap,
    textRedact, contamination, contaminationBloom, decontaminate,
    decontaminateSpansQ, mmStats,
    mmDecodePlanted, mmResizePlanted, mmAudioFrames, mmPixelDedup,
    mmPhashDedup, mmAudioDedup, curate,
    qualityGate,
    pipelineCurateSplit)
}
