package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, TopKAgg}
import graft.functions.VectorExprs.{array_dot, lsh_buckets}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Three tiers, in ascending scale:
  *  - `bruteForceTopK`: exact cosine against every vector; the scan is
  *    distributed and the top-k is a TakeOrderedAndProject (bounded
  *    heap per partition, k rows to the driver) — correct baseline and
  *    the verifier for the approximate tiers;
  *  - `lshTopK`: multi-table random-hyperplane LSH — L independent
  *    hash tables of nBits sign-projections each; a vector is a
  *    candidate if it shares a bucket with the query in ANY table
  *    (candidate rate 1-(1-p^nBits)^L for per-bit agreement p). The
  *    candidate join shuffles only (table, bucket, id);
  *  - `ivfTopK`: IVF-lite — a deterministic sample of vectors acts as
  *    the coarse centroid table (broadcast), every vector is assigned
  *    to its nearest centroid (one broadcast join, no shuffle of the
  *    big side), and a query probes the `nprobe` nearest lists.
  *
  * Dot products run through the codegen `array_dot` expression
  * (graft.functions.VectorExprs) — a tight Java loop, no interpreted
  * lambdas, left-to-right double accumulation (bit-identical to the
  * DuckDB oracle's list_cosine_similarity on DOUBLE[]).
  */
object Similarity {

  /** Dot product via the codegen expression (register first —
    * all DataFrame entry points below do). */
  def dot(a: Column, b: Column): Column = array_dot(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  // ---- shared retrieval contracts -------------------------------------
  // One definition each, used by every batch, IVF and ADC path in
  // Similarity, Quantize and Retrieval, so a fix lands once.

  /** Per-query top-k: for each `queryCol` group of `scored`, the `k`
    * best rows by `scoreCol` (`descending` for similarities,
    * ascending for distances), ties to the LOWER `idCol`, as
    * `(queryCol, idCol, payload…, scoreCol, rank)`.
    *
    * The bounded `collect_top_k` heap ([[graft.functions.TopKAgg]])
    * keeps the k SMALLEST `(key, id, payload…)` structs, where the key
    * is the score negated for `descending` (exact for IEEE doubles) —
    * a total order equivalent to `(score, id ASC)`, so the kept set
    * equals a `row_number` window's rows 1..k, ties at the boundary
    * included (pinned in PerQueryTopKSpec). Every map task keeps one
    * k-sized heap per query: the exchange carries ≤ k entries per
    * (query, map task), never the scored frame, and nothing sorts it.
    * The id rides the struct un-negated, so any orderable id type
    * works. Payload columns ride the struct after the (key, id)
    * prefix, which is already total, so they never decide what is
    * kept. The final window ranks the ≤ k survivors of each query, so
    * `rank` already runs 1..k and callers need no `rank <= k` filter
    * (one would only add a WindowGroupLimit and a Filter that drop no
    * row). */
  private[llm] def perQueryTopK(
      scored: DataFrame,
      queryCol: String,
      idCol: String,
      scoreCol: String,
      k: Int,
      descending: Boolean,
      payload: Seq[String] = Nil): DataFrame = {
    def key(c: Column): Column = if (descending) -c else c
    val entry = Seq(key(col(scoreCol)).as("s"), col(idCol).as("i")) ++
      payload.map(col)
    scored
      .groupBy(queryCol)
      .agg(TopKAgg.collect_top_k(struct(entry: _*), k, reverse = true)
        .as("top"))
      .select(col(queryCol), explode(col("top")).as("e"))
      .select(Seq(col(queryCol), col("e.i").as(idCol)) ++
        payload.map(p => col(s"e.$p").as(p)) :+
        key(col("e.s")).as(scoreCol): _*)
      .withColumn("rank", row_number().over(
        Window.partitionBy(queryCol).orderBy(
          if (descending) col(scoreCol).desc else col(scoreCol),
          col(idCol))))
  }

  /** IVF probe-list ranking, single-query form: the `nprobe` lists of
    * `cents` (`list_id`, `c_vec`) most similar to the query `q` by
    * round-6 cosine, the lower list id winning ties; returns
    * `list_id`. `q` is a column of `cents`: the query column of a
    * [[centroidFrame]] built with the query, or of a one-row query
    * frame the caller joined onto `cents`. It must not be a literal,
    * whose `l2norm` constant-folds into a double that generated code
    * inlines, so that every fresh query would compile new classes.
    * The ranking runs in-plan on the nlist-row frame, so the round-6
    * cosine is the ENGINE's arithmetic, the same as the oracle's. */
  private[llm] def probeLists(
      cents: DataFrame, q: Column, nprobe: Int): DataFrame =
    cents
      .select(col("list_id"), round(cosine(col("c_vec"), q), 6).as("qc"))
      .orderBy(col("qc").desc, col("list_id"))
      .limit(nprobe)
      .select("list_id")

  /** IVF probe-list ranking, batch form: every row of `queries` keeps
    * its own `nprobe` best lists under the single-query contract — a
    * window over the bounded (queries × nlist) frame, never the
    * corpus. Returns `(queryIdCol, carry…, list_id)`, one row per
    * probed (query, list) pair; `carry` names query-side columns the
    * scan needs next to the list id (the query vector, or its ADC
    * table). */
  private[llm] def probeLists(
      cents: DataFrame,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      nprobe: Int,
      carry: Seq[String]): DataFrame =
    cents
      .crossJoin(broadcast(queries))
      .select((col(queryIdCol) +: carry.map(col)) ++ Seq(col("list_id"),
        round(cosine(col("c_vec"), col(queryVecCol)), 6).as("qc")): _*)
      .withColumn("rk", row_number().over(
        Window.partitionBy(queryIdCol)
          .orderBy(col("qc").desc, col("list_id"))))
      .filter(col("rk") <= nprobe)
      .select(((queryIdCol +: carry) :+ "list_id").map(col): _*)

  /** Asymmetric (ADC) distance of one row's PQ `codes` under a query's
    * m×k distance table `dtab`: the sum over subspaces of
    * `dtab[s][codes[s]]`, rounded to 4 — `m` array lookups per row.
    * `dtab` must be a plain column (broadcast or literal), never an
    * expression derived per row. */
  private[llm] def adcDist(dtab: Column, codes: Column): Column =
    round(aggregate(
      zip_with(dtab, codes, (row, code) => element_at(row, code + 1)),
      lit(0.0), (acc, e) => acc + e), 4)

  /** Trained coarse centroids as an nlist-row `(list_id, c_vec)` frame
    * of plan literals — what [[probeLists]] ranks and what a persisted
    * IVF-PQ index stores. With a `query` vector, every row also carries
    * it as `q_vec`, the column the single-query [[probeLists]] ranks
    * against; all of it is one folded array literal, which generated
    * code receives as an object. */
  private[llm] def centroidFrame(
      spark: SparkSession, cents: Array[(Long, Seq[Double])],
      query: Option[Seq[Double]] = None): DataFrame =
    spark.range(1)
      .select(explode(array(cents.map { case (cid, c) =>
        struct(Seq(lit(cid).as("list_id"), typedlit(c).as("c_vec")) ++
          query.map(typedlit(_).as("q_vec")): _*)
      }: _*)).as("c"))
      .select("c.*")

  /** Exact top-k by cosine against a single query vector (given as the
    * one-row DataFrame `query(q_vec)`), excluding `excludeId`. */
  def bruteForceTopK(
      embeddings: DataFrame,
      query: DataFrame,
      k: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      excludeId: Long = -1L): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    embeddings
      .filter(col(idCol) =!= excludeId)
      .crossJoin(broadcast(query))
      .select(
        col(idCol),
        round(cosine(col(vecCol), col("q_vec")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Batch k-NN join: exact top-k corpus neighbors for EVERY query
    * row, one plan. The query set broadcasts (it is the small side by
    * definition — a probe batch, not the corpus), each corpus row
    * scores against all queries in its own task (codegen dot
    * products, no shuffle of the corpus), and per-query top-k is
    * [[perQueryTopK]]'s bounded heap, `(cos_sim DESC, id ASC)` with
    * exact ties at the k boundary — never the |corpus|×|queries|
    * scored frame through the exchange, and never a full sort of it.
    * For corpora where even scoring every row is too much, cut
    * candidates first with the LSH bucketing (`lshTopK` per query, or
    * `nearDupCosine`'s capped bucket join) and feed survivors here.
    *
    * `excludeSelf` (default true) drops corpus rows whose id equals
    * the query id — the right semantics when the query batch is drawn
    * FROM the corpus (a vector is trivially its own nearest
    * neighbor). Pass false for an external query batch: there an id
    * collision is coincidental and dropping it would silently lose a
    * true neighbor. */
  def knnJoin(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 10,
      queryIdCol: String = "q_id",
      queryVecCol: String = "q_vec",
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      excludeSelf: Boolean = true): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val joined = corpus
      .crossJoin(broadcast(
        queries.select(col(queryIdCol), col(queryVecCol))))
    val scored = (if (excludeSelf) joined.filter(col(idCol) =!= col(queryIdCol))
      else joined)
      .select(
        col(queryIdCol),
        col(idCol),
        round(cosine(col(vecCol), col(queryVecCol)), 4).as("cos_sim"))
    perQueryTopK(scored, queryIdCol, idCol, "cos_sim", k, descending = true)
  }

  /** IVF-accelerated batch k-NN join — [[knnJoin]] with the coarse
    * quantizer's probe pruning applied PER QUERY: the quantizer
    * trains once ([[lloydCentroids]], deterministic), each query
    * keeps its `nprobe` best trained lists ([[probeLists]]' batch
    * form), and a corpus row is
    * scored only against the queries probing its list. At 100 TB
    * this cuts the scored-pair count to ≈ nprobe/nlist of the
    * brute-force join's |corpus|·|queries| — the batch-serving shape
    * (the single-query form is [[ivfTrainedTopK]]). Output is
    * [[knnJoin]]'s exact convention: `(q_id, idCol, cos_sim, rank)`,
    * rank by `(cos_sim DESC, id ASC)` within each query.
    *
    * Scale: training as in [[kmeansLloyd]]; ONE corpus assignment
    * scan; the (query, probed-list) pairs broadcast (nq·nprobe rows,
    * bounded by the query batch); the per-query top-k is
    * [[perQueryTopK]] — ≤ k rows per (query, map task) cross the
    * exchange, never the scored pairs.
    *
    * '''Tiering — this is the AD-HOC/ONE-SHOT tier.''' Every
    * invocation trains Lloyd and assigns the full corpus in-query;
    * that cost is only justified when the corpus is probed ONCE. For
    * build-once / probe-many serving, use the persisted-index tier:
    * [[graft.llm.Quantize.ivfPqKnnJoinIndexed]] (nothing trains or
    * encodes at query time — probes rank the STORED centroid table
    * and ADC-score the STORED codes) and
    * [[graft.llm.Quantize.ivfPqKnnJoinIndexedReranked]] when a
    * recall floor matters (exact re-rank of the ADC shortlist; the
    * measured operating-point curve is in SCALE_PROBES.md). The
    * serving-path contract is pinned in QuantizeSpec. */
  def ivfKnnJoin(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 10,
      nlist: Int = 4,
      iters: Int = 2,
      nprobe: Int = 2,
      queryIdCol: String = "q_id",
      queryVecCol: String = "q_vec",
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      excludeSelf: Boolean = true): DataFrame = {
    require(nprobe >= 1, s"nprobe must be ≥ 1: $nprobe")
    GraftFunctions.register(corpus.sparkSession)
    val vecs = doubleVecs(corpus, idCol, vecCol)
    val cents = lloydCentroids(vecs, nlist, iters)
    val q = queries.select(col(queryIdCol).as("__graft_qid"),
      col(queryVecCol).cast("array<double>").as("__graft_qv"))
    if (cents.isEmpty)
      return vecs.crossJoin(q).select(
        col("__graft_qid").as(queryIdCol),
        col("vid").as(idCol),
        lit(null).cast("double").as("cos_sim"),
        lit(null).cast("int").as("rank")).limit(0)
    val probeSet = probeLists(centroidFrame(corpus.sparkSession, cents),
      q, "__graft_qid", "__graft_qv", nprobe, carry = Seq("__graft_qv"))
    val joined = assignToCentroids(vecs, cents)
      .join(broadcast(probeSet), col("cid") === col("list_id"))
    val scored = (if (excludeSelf)
        joined.filter(col("vid") =!= col("__graft_qid"))
      else joined)
      .select(col("__graft_qid").as(queryIdCol), col("vid").as(idCol),
        round(cosine(col("v"), col("__graft_qv")), 4).as("cos_sim"))
    perQueryTopK(scored, queryIdCol, idCol, "cos_sim", k, descending = true)
  }

  /** Candidate ids sharing an LSH bucket with the query in ≥1 table. */
  private def lshCandidates(
      embeddings: DataFrame,
      query: DataFrame,
      nBits: Int,
      nTables: Int,
      idCol: String,
      vecCol: String): DataFrame = {
    val emb = embeddings.select(
      col(idCol),
      posexplode(lsh_buckets(col(vecCol), nBits, nTables))
        .as(Seq("tbl", "bucket")))
    val q = query.select(
      posexplode(lsh_buckets(col("q_vec"), nBits, nTables))
        .as(Seq("tbl", "bucket")))
    emb.join(broadcast(q), Seq("tbl", "bucket"))
      .select(idCol).distinct()
  }

  /** Approximate top-k via multi-table LSH; candidates then exact
    * cosine. Output schema matches bruteForceTopK. */
  def lshTopK(
      embeddings: DataFrame,
      query: DataFrame,
      k: Int = 10,
      nBits: Int = 6,
      nTables: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      excludeId: Long = -1L): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val cands = lshCandidates(
      embeddings.filter(col(idCol) =!= excludeId), query,
      nBits, nTables, idCol, vecCol)
    embeddings
      .join(cands, Seq(idCol), "left_semi")
      .crossJoin(broadcast(query))
      .select(col(idCol),
        round(cosine(col(vecCol), col("q_vec")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** IVF-lite index: centroids = first nlist vectors by id (broadcast,
    * deterministic); assignment = argmax cosine over the broadcast
    * centroid array (per-row loop, no shuffle of the big side).
    * Returns the embeddings table with a `list_id` column. */
  def ivfAssign(
      embeddings: DataFrame,
      nlist: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val centroids = embeddings
      .orderBy(col(idCol))
      .limit(nlist)
      .select(col(idCol).as("list_id"), col(vecCol).as("c_vec"))
    val cArr = centroids.agg(
      collect_list(struct(col("list_id"), col("c_vec"))).as("cs"))
    embeddings
      .crossJoin(broadcast(cArr))
      .withColumn("best",
        array_max(transform(col("cs"), c =>
          struct(
            cosine(col(vecCol), c.getField("c_vec")).as("sim"),
            c.getField("list_id").as("list_id")))))
      .select(col(idCol), col(vecCol), col("best.list_id").as("list_id"))
  }

  /** Query the IVF index: rank the lists by query similarity
    * ([[probeLists]]), scan only the nprobe best lists. Each list is
    * represented by its LOWEST-id member, which for [[ivfAssign]] is
    * the list's centroid itself (the centroids are the nlist lowest
    * ids, and a centroid joins its own list). */
  def ivfTopK(
      indexed: DataFrame,
      query: DataFrame,
      k: Int = 10,
      nprobe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      excludeId: Long = -1L): DataFrame = {
    GraftFunctions.register(indexed.sparkSession)
    val centroids = indexed
      .groupBy("list_id")
      .agg(min_by(col(vecCol), col(idCol)).as("c_vec"))
    indexed
      .filter(col(idCol) =!= excludeId)
      .join(broadcast(probeLists(centroids.crossJoin(broadcast(query)),
        col("q_vec"), nprobe)), Seq("list_id"))
      .crossJoin(broadcast(query))
      .select(col(idCol),
        round(cosine(col(vecCol), col("q_vec")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Embedding-cosine near-duplicate pairs at scale: multi-table LSH
    * candidates (ids only through the shuffle), vectors joined back
    * for exact-cosine verification of the candidate set. */
  def nearDupCosine(
      embeddings: DataFrame,
      minCosine: Double = 0.95,
      nBits: Int = 8,
      nTables: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxBucketSize: Int = Dedup.defaultMaxBucket): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    // same quadratic-bucket guard as the text LSH paths — a degenerate
    // corpus (millions of identical embeddings) collapses into one
    // bucket per table and would pin a single reducer
    val bucketed = Dedup.capBuckets(
      embeddings.select(
        col(idCol).as("id"),
        posexplode(lsh_buckets(col(vecCol), nBits, nTables))
          .as(Seq("tbl", "bucket"))),
      Seq("tbl", "bucket"), maxBucketSize)
    val pairs = bucketed.as("a")
      .join(bucketed.as("b"), Seq("tbl", "bucket"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
    val vecs = embeddings.select(col(idCol), col(vecCol))
    pairs
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("v_a")), Seq("id_a"))
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("v_a"), col("v_b")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= minCosine)
  }

  /** Nearest-centroid assignment against a FIXED, deterministic
    * centroid table — the k lowest-id vectors (no k-means iterations,
    * so the assignment is a pure function of the data and can be
    * oracle-checked row for row; [[kmeansAssign]] is the trained
    * variant). Centroids broadcast (k rows), every vector scores all
    * k in its own task via the codegen dot product, and the winner is
    * an `array_max` over (cos, -centroid_id) structs — no shuffle of
    * the corpus at all. Ties break to the LOWER centroid id. */
  def fixedCentroidAssign(
      embeddings: DataFrame,
      k: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    fixedCentroidAssignFrom(embeddings, embeddings, k, idCol, vecCol)

  /** [[fixedCentroidAssign]] with the centroid table drawn from a
    * SEPARATE frame — the frozen-yardstick shape ([[graft.llm.Drift
    * .embeddingDrift]] assigns two snapshots to ONE snapshot's
    * centroids so their cluster shares are comparable on the same
    * axis). Centroids are `centroidSource`'s k lowest-id vectors. */
  def fixedCentroidAssignFrom(
      centroidSource: DataFrame,
      embeddings: DataFrame,
      k: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"centroid count must be ≥ 1: $k")
    GraftFunctions.register(embeddings.sparkSession)
    val centroids = centroidSource
      .orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
      .groupBy()
      .agg(collect_list(struct(col("c_id"), col("c_vec"))).as("cents"))
    embeddings
      .crossJoin(broadcast(centroids))
      .select(
        col(idCol), col(vecCol),
        array_max(transform(col("cents"), c =>
          struct(
            round(cosine(col(vecCol), c.getField("c_vec")), 6).as("cos"),
            (-c.getField("c_id")).as("ord"),
            c.getField("c_id").as("cid")))).as("best"))
      .select(
        col(idCol), col(vecCol),
        col("best").getField("cid").as("centroid_id"),
        round(col("best").getField("cos"), 4).as("cos_to_centroid"))
  }

  /** Per-cluster profile over [[fixedCentroidAssign]]: size, mean
    * cosine-to-centroid, mean vector L2 norm — the corpus-structure
    * audit (are the embeddings collapsing onto a few directions?)
    * that precedes IVF index sizing. One map-side-combined aggregate
    * on the k-value centroid key. */
  def fixedCentroidProfile(
      embeddings: DataFrame,
      k: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    fixedCentroidAssign(embeddings, k, idCol, vecCol)
      .groupBy("centroid_id")
      .agg(
        count(lit(1)).as("n_vectors"),
        round(avg(col("cos_to_centroid")), 4).as("avg_cos"),
        round(avg(l2norm(col(vecCol))), 4).as("avg_norm"))

  /** Embedding outlier scan over [[fixedCentroidAssign]]: flag every
    * vector whose cosine to its NEAREST centroid falls below
    * `minCos` — the corrupt-embedding detector (zero/garbage vectors,
    * wrong-modality rows, encoder-version drift) run before an
    * embedding table feeds ANN indexing or SemDeDup. A healthy
    * embedding lies near some density mode; a vector nearly
    * orthogonal to ALL centroids belongs to no mode. Returns
    * per-centroid accounting `(centroid_id, n_vectors, n_outliers,
    * outlier_id_sum)` — the id sum pins outlier membership, not just
    * counts. Same scale shape as the profile: centroids broadcast,
    * corpus scored in its own tasks, one ≤k-key aggregate; the
    * corpus never shuffles. */
  def embOutliers(
      embeddings: DataFrame,
      k: Int = 8,
      minCos: Double = 0.0,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    fixedCentroidAssign(embeddings, k, idCol, vecCol)
      .select(col(idCol), col("centroid_id"),
        (col("cos_to_centroid") < minCos).as("is_outlier"))
      .groupBy("centroid_id")
      .agg(
        count(lit(1)).as("n_vectors"),
        count(when(col("is_outlier"), 1)).as("n_outliers"),
        coalesce(sum(when(col("is_outlier"), col(idCol))), lit(0L))
          .as("outlier_id_sum"))

  /** Distributed Lloyd k-means over the embedding column — the
    * trained-clustering primitive (IVF list training, SemDeDup
    * clustering, cluster-balanced sampling) expressed so every round
    * is oracle-recomputable (no random init, no
    * implementation-defined tie handling):
    *
    *   - init: the k lowest-`idCol` vectors, cluster ids 0..k-1 in id
    *     order (pure function of the data);
    *   - assign: argmax of `round(cosine, 6)` over the broadcast
    *     centroids, ties to the LOWER cluster id (same contract as
    *     [[fixedCentroidAssign]] — the 6-dp round is what makes the
    *     argmax engine-portable);
    *   - update: element-wise mean of each cluster's vectors, rounded
    *     to 6 dp (same cross-engine determinism trick); a cluster that
    *     loses all members keeps its previous centroid;
    *   - repeat `iters` times, then profile the FINAL assignment.
    *
    * Returns `(cluster_id, n_vecs, avg_cos)` ordered by cluster id.
    *
    * Scale shape — the canonical distributed k-means: centroids live
    * on the driver (k·dim doubles, k-means state is small by
    * definition) and enter each pass as a broadcast literal; each
    * iteration is ONE corpus scan (assignment fused into it, no
    * shuffle of the vectors) plus ONE map-side-combined aggregate
    * whose shuffle carries k·dim partial sums. Nothing is ever
    * cached — at 100 TB you cannot hold the corpus in memory anyway,
    * so the per-iteration re-scan IS the production cost model (or
    * fit on a sample and assign once, which this operator supports by
    * passing a sampled frame). Driver collects k·dim rows per
    * iteration — bounded by construction. */
  def kmeansLloyd(
      embeddings: DataFrame,
      k: Int = 4,
      iters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    kmeansAssign(embeddings, k, iters, idCol, vecCol)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_vecs"), round(avg(col("cos")), 4).as("avg_cos"))
      .orderBy("cluster_id")

  /** The assignment surface under [[kmeansLloyd]]: runs the full
    * training loop, then returns the FINAL per-vector assignment
    * `(idCol, cluster_id, cos)` with `cos` the round-6 cosine to the
    * winning trained centroid. Same contract and scale shape as the
    * profile (see [[kmeansLloyd]]); exposed so downstream curation
    * (balanced sampling, cluster-scoped dedup) can reuse the trained
    * assignment without re-deriving it. */
  def kmeansAssign(
      embeddings: DataFrame,
      k: Int = 4,
      iters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val vecs = doubleVecs(embeddings, idCol, vecCol)
    val cents = lloydCentroids(vecs, k, iters)
    if (cents.isEmpty)
      // empty corpus: empty frame, id type preserved from the input
      return vecs.select(
        col("vid").as(idCol),
        lit(null).cast("long").as("cluster_id"),
        lit(null).cast("double").as("cos")).limit(0)
    assignToCentroids(vecs, cents).select(
      col("vid").as(idCol), col("cid").as("cluster_id"), col("cos"))
  }

  private[llm] def doubleVecs(
      embeddings: DataFrame, idCol: String, vecCol: String): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    embeddings.select(
      col(idCol).as("vid"), col(vecCol).cast("array<double>").as("v"))
  }

  /** One broadcast-centroid assignment pass over a `(vid, v)` frame:
    * `(vid, v, cid, cos)` with the round-6 argmax/lower-cid-tie
    * contract. The centroid set enters as a plan literal — k·dim
    * doubles, k-means state is small by definition. */
  private[llm] def assignToCentroids(
      vecs: DataFrame, cents: Array[(Long, Seq[Double])]): DataFrame = {
    val centsCol = array(cents.map { case (cid, c) =>
      struct(lit(cid).as("c_id"), typedlit(c).as("c_vec"))
    }: _*)
    vecs.select(
      col("vid"), col("v"),
      array_max(transform(centsCol, c =>
        struct(
          round(cosine(col("v"), c.getField("c_vec")), 6).as("cos"),
          (-c.getField("c_id")).as("ord"),
          c.getField("c_id").as("cid")))).as("best"))
      .select(col("vid"), col("v"),
        col("best").getField("cid").as("cid"),
        col("best").getField("cos").as("cos"))
  }

  /** The Lloyd training loop behind [[kmeansAssign]]/[[kmeansLloyd]]:
    * returns the trained centroids (empty array on an empty corpus).
    * See [[kmeansLloyd]] for the determinism contract and scale
    * shape. */
  private[llm] def lloydCentroids(
      vecs: DataFrame, k: Int, iters: Int): Array[(Long, Seq[Double])] = {
    require(k >= 1, s"cluster count must be ≥ 1: $k")
    require(iters >= 0, s"iteration count must be ≥ 0: $iters")
    val init: Array[(Long, Seq[Double])] = vecs
      .orderBy(col("vid")).limit(k)
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Double](1)) }
    if (init.isEmpty) return init

    var centroids = init
    var it = 0
    while (it < iters) {
      val means = assignToCentroids(vecs, centroids)
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "e")))
        .groupBy("cid", "pos").agg(round(avg(col("e")), 6).as("m"))
        .collect()
      val byCid: Map[Long, Seq[Double]] = means
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      centroids = centroids.map { case (cid, old) =>
        (cid, byCid.getOrElse(cid, old))
      }
      it += 1
    }
    centroids
  }

  /** Train once on a reference corpus, return a pure row-assignment
    * function against the FROZEN trained centroids — the cluster
    * ROUTER deployment shape: the same function applies to a batch
    * frame or a streaming micro-batch (stateless projection, so
    * Structured Streaming runs it in append mode with no stream-side
    * aggregation), routing each incoming vector to its trained
    * cluster `(idCol, cluster_id, cos)` under [[kmeansAssign]]'s
    * exact contract. Centroids are captured as plan literals at
    * train time — no stream-static join, no state store. */
  def frozenAssigner(
      reference: DataFrame,
      k: Int = 4,
      iters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame => DataFrame = {
    val cents = lloydCentroids(doubleVecs(reference, idCol, vecCol), k, iters)
    require(cents.nonEmpty, "cannot train a cluster router on an empty reference")
    (df: DataFrame) =>
      assignToCentroids(doubleVecs(df, idCol, vecCol), cents)
        .select(col("vid").as(idCol), col("cid").as("cluster_id"), col("cos"))
  }

  /** IVF ANN over LLOYD-TRAINED centroids — end-to-end
    * oracle-recomputable and row-level, unlike [[ivfTopK]]'s gate
    * audit: train with [[lloydCentroids]] (deterministic), rank the
    * trained centroids with [[probeLists]], scan only the `nprobe`
    * best lists, return exact top-k by `(round-4 cosine DESC, id
    * ASC)`.
    *
    * Scale: training as in [[kmeansLloyd]]; the search itself is one
    * corpus assignment scan filtered by a BROADCAST nprobe-row list
    * set (at 100 TB the assignment would be precomputed once — see
    * [[ivfAssign]]'s persisted-index shape — so the per-query cost is
    * the probed fraction only; this operator keeps train+search in
    * one call so the whole path stays oracle-checkable). */
  def ivfTrainedTopK(
      embeddings: DataFrame,
      query: DataFrame,
      k: Int = 10,
      nlist: Int = 4,
      iters: Int = 2,
      nprobe: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      excludeId: Long = -1L): DataFrame = {
    require(nprobe >= 1, s"nprobe must be ≥ 1: $nprobe")
    val vecs = doubleVecs(embeddings, idCol, vecCol)
    val cents = lloydCentroids(vecs, nlist, iters)
    val q = query.select(col("q_vec").cast("array<double>").as("qv"))
    if (cents.isEmpty)
      return vecs.crossJoin(q).select(
        col("vid").as(idCol),
        lit(null).cast("double").as("cos_sim")).limit(0)
    val probed = probeLists(
      centroidFrame(embeddings.sparkSession, cents).crossJoin(broadcast(q)),
      col("qv"), nprobe)
    assignToCentroids(vecs, cents)
      .filter(col("vid") =!= lit(excludeId))
      .join(broadcast(probed), col("cid") === col("list_id"))
      .crossJoin(broadcast(q))
      .select(col("vid").as(idCol),
        round(cosine(col("v"), col("qv")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Cluster-balanced subsampling over the trained [[kmeansAssign]]:
    * cap every cluster at `maxPerCluster` members, keeping the most
    * PROTOTYPICAL ones (highest round-6 cosine to the trained
    * centroid, ties to the lower id) — the embedding-space analog of
    * the per-source domain cap: an over-crawled topic cluster can't
    * dominate the training mix, and what survives is the canonical
    * core of each cluster, not a random slice. Returns per-cluster
    * accounting `(cluster_id, n_vecs, n_kept, kept_id_sum)` — the id
    * sum pins the kept MEMBERSHIP, not just counts (requires a
    * numeric id, like every other id-sum fingerprint here).
    *
    * Scale: the cap rides the bounded `collect_top_k` heap — at most
    * `maxPerCluster` (neg_cos, id) pairs per cluster cross the
    * exchange, never the corpus (the heap of [[perQueryTopK]]; a window
    * rank over k partitions would funnel the whole corpus through k
    * tasks). The kept-id sum folds over the heap array with a HOF —
    * no explode, no second shuffle. */
  def kmeansBalancedSample(
      embeddings: DataFrame,
      k: Int = 4,
      iters: Int = 2,
      maxPerCluster: Int = 100,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(maxPerCluster >= 1, s"cap must be ≥ 1: $maxPerCluster")
    kmeansAssign(embeddings, k, iters, idCol, vecCol)
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).as("n_vecs"),
        TopKAgg.collect_top_k(
          struct((-col("cos")).as("neg_cos"), col(idCol).as("kid")),
          maxPerCluster, reverse = true).as("top"))
      .select(
        col("cluster_id"), col("n_vecs"),
        size(col("top")).cast("long").as("n_kept"),
        aggregate(col("top"), lit(0L),
          (acc, x) => acc + x.getField("kid").cast("long"))
          .as("kept_id_sum"))
      .orderBy("cluster_id")
  }

  /** Cluster-quality audit over the trained [[kmeansAssign]]: per
    * cluster, how label-pure its membership is — `(cluster_id,
    * n_vecs, majority_label, n_majority, purity)` with purity =
    * n_majority / n_vecs rounded to 4. The standard sanity metric a
    * pipeline runs before trusting cluster-scoped decisions
    * (balanced sampling, SemDeDup, routing): clusters that mix
    * labels freely mean the embedding space doesn't separate the
    * property you are about to act on. Majority ties break to the
    * LOWER label — deterministic, oracle-reproducible.
    *
    * Scale: one assignment scan, then two keyed aggregations whose
    * row counts are (clusters × labels) then clusters — bounded by
    * construction, map-side combined; the label mode rides an
    * `array_max` over the per-cluster label-count struct, never a
    * window. */
  def clusterPurity(
      embeddings: DataFrame,
      k: Int = 8,
      iters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val labels = embeddings.select(
      col(idCol), col(labelCol).cast("long").as("__graft_label"))
    kmeansAssign(embeddings, k, iters, idCol, vecCol)
      .join(labels, Seq(idCol))
      .groupBy(col("cluster_id"), col("__graft_label"))
      .agg(count(lit(1)).as("n"))
      .groupBy("cluster_id")
      .agg(
        sum(col("n")).as("n_vecs"),
        max(struct(col("n"), (-col("__graft_label")).as("neg_label")))
          .as("m"))
      .select(
        col("cluster_id"),
        col("n_vecs"),
        (-col("m.neg_label")).as("majority_label"),
        col("m.n").as("n_majority"),
        round(col("m.n").cast("double") / col("n_vecs").cast("double"), 4)
          .as("purity"))
      .orderBy("cluster_id")
  }

  /** SemDeDup-style semantic deduplication marks (cluster, then
    * drop within-cluster semantic duplicates — the embedding-space
    * curation pass for pretraining corpora; cf. the public SemDeDup
    * recipe: k-means the embeddings, prune pairs above a cosine
    * threshold inside each cluster, keep one representative).
    *
    * Deterministic formulation so the whole operator is
    * oracle-checkable: assignment is [[fixedCentroidAssign]] (pure
    * function of the data), and the keep rule is greedy dominance —
    * a vector is DROPPED iff some same-cluster vector u has
    * `round(cos(u,v),4) ≥ minCosine` and strictly higher keep
    * priority `(cos_to_centroid, -id)` (closest-to-centroid wins,
    * ties to the lower id; a vector never dominates itself because
    * the priority comparison is strict). Returns every input row:
    * `(idCol, centroid_id, cos_to_centroid, keep)`.
    *
    * Scale: this EXACT tier joins each cluster against itself — the
    * right audit/oracle shape, but within-cluster quadratic (SemDeDup
    * itself is quadratic inside clusters; it relies on many small
    * clusters). For corpora where clusters are large, use
    * [[semDedupMarksLsh]]: identical dominance semantics evaluated
    * only on cluster-scoped LSH candidate pairs, with the capped
    * bucket guard. */
  def semDedupMarks(
      embeddings: DataFrame,
      kCentroids: Int = 8,
      minCosine: Double = 0.95,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val assigned = fixedCentroidAssign(embeddings, kCentroids, idCol, vecCol)
    val v = assigned.select(
      col(idCol).as("v_id"), col(vecCol).as("v_vec"),
      col("centroid_id"), col("cos_to_centroid").as("v_cc"))
    val u = assigned.select(
      col(idCol).as("u_id"), col(vecCol).as("u_vec"),
      col("centroid_id").as("u_centroid"),
      col("cos_to_centroid").as("u_cc"))
    val dominated = v.join(u,
        col("centroid_id") === col("u_centroid") &&
          round(cosine(col("v_vec"), col("u_vec")), 4) >= lit(minCosine) &&
          (col("u_cc") > col("v_cc") ||
            (col("u_cc") === col("v_cc") && col("u_id") < col("v_id"))),
        "left_semi")
      .select(col("v_id").as(idCol), lit(true).as("_dropped"))
    assigned
      .join(dominated, Seq(idCol), "left")
      .select(
        col(idCol), col("centroid_id"), col("cos_to_centroid"),
        col("_dropped").isNull.as("keep"))
  }

  /** [[semDedupMarks]] at corpus scale: the dominance predicate is
    * evaluated ONLY on cluster-scoped LSH candidate pairs — vectors
    * sharing a (centroid, table, bucket) key — so the pair stage is
    * bucket-bounded (with [[Dedup.capBuckets]]' degenerate-bucket
    * guard) instead of cluster-quadratic. Approximate in the usual
    * LSH direction: a missed candidate pair can only UNDER-drop
    * (keep a duplicate), never drop a non-duplicate; identical
    * vectors always collide in every table, so exact copies are
    * always caught (pinned in SimilaritySpec against the exact
    * tier). */
  def semDedupMarksLsh(
      embeddings: DataFrame,
      kCentroids: Int = 8,
      minCosine: Double = 0.95,
      nBits: Int = 8,
      nTables: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxBucketSize: Int = Dedup.defaultMaxBucket): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val assigned = fixedCentroidAssign(embeddings, kCentroids, idCol, vecCol)
    val bucketed = Dedup.capBuckets(
      assigned.select(
        col(idCol).as("id"), col("centroid_id"),
        posexplode(lsh_buckets(col(vecCol), nBits, nTables))
          .as(Seq("tbl", "bucket"))),
      Seq("centroid_id", "tbl", "bucket"), maxBucketSize)
    val candPairs = bucketed.as("a")
      .join(bucketed.as("b"), Seq("centroid_id", "tbl", "bucket"))
      .select(col("a.id").as("v_id"), col("b.id").as("u_id"))
      .filter(col("v_id") =!= col("u_id"))
      .distinct()
    val slim = assigned.select(
      col(idCol), col(vecCol), col("cos_to_centroid"))
    val dominated = candPairs
      .join(slim.select(col(idCol).as("v_id"), col(vecCol).as("v_vec"),
        col("cos_to_centroid").as("v_cc")), Seq("v_id"))
      .join(slim.select(col(idCol).as("u_id"), col(vecCol).as("u_vec"),
        col("cos_to_centroid").as("u_cc")), Seq("u_id"))
      .filter(
        round(cosine(col("v_vec"), col("u_vec")), 4) >= lit(minCosine) &&
          (col("u_cc") > col("v_cc") ||
            (col("u_cc") === col("v_cc") && col("u_id") < col("v_id"))))
      .select(col("v_id").as(idCol)).distinct()
      .withColumn("_dropped", lit(true))
    assigned
      .join(dominated, Seq(idCol), "left")
      .select(
        col(idCol), col("centroid_id"), col("cos_to_centroid"),
        col("_dropped").isNull.as("keep"))
  }

  /** Hard-negative mining for contrastive / retrieval training: for
    * every query vector, the top-k most-similar corpus vectors whose
    * LABEL differs from the query's — the near-miss examples a
    * bi-encoder trains against. Same plan shape as [[knnJoin]] (query
    * batch broadcasts, corpus never shuffles, per-query top-k is
    * [[perQueryTopK]] with the label as its payload); the label
    * predicate is fused into the scoring task so mismatched pairs die
    * before the aggregate. */
  def hardNegatives(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 5,
      queryIdCol: String = "q_id",
      queryVecCol: String = "q_vec",
      queryLabelCol: String = "q_label",
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val scored = corpus
      .crossJoin(broadcast(queries.select(
        col(queryIdCol), col(queryVecCol), col(queryLabelCol))))
      .filter(col(labelCol) =!= col(queryLabelCol))
      .select(
        col(queryIdCol),
        col(idCol),
        col(labelCol),
        round(cosine(col(vecCol), col(queryVecCol)), 4).as("cos_sim"))
    perQueryTopK(scored, queryIdCol, idCol, "cos_sim", k,
      descending = true, payload = Seq(labelCol))
  }

  /** Embedding-space decontamination scan: for every corpus vector,
    * its maximum cosine to ANY vector of a (small, broadcast) eval
    * set, and a `contaminated` flag at `minCosine` — the SEMANTIC
    * counterpart of the n-gram checks ([[Dedup.contaminationHits]]):
    * a paraphrased eval question shares no 4-shingle with the
    * training doc, but its embedding sits right next to it, which is
    * exactly what this scan sees and the lexical one cannot.
    *
    * Determinism: each pairwise cosine runs through the codegen
    * `array_dot` (left-to-right double accumulation, bit-identical to
    * DuckDB's list_cosine_similarity on DOUBLE[]) and is rounded to 4
    * digits BEFORE the max, so `max_cos_eval` is an order-independent
    * max over identical doubles on both engines — a full row-level
    * oracle, no tolerance needed.
    *
    * Scale: the eval set broadcasts (it is small by definition —
    * thousands of benchmark items vs a corpus of billions); every
    * corpus row scores all eval vectors inside its own task, and the
    * groupBy collapses map-side (≤ one partial row per corpus id per
    * task), so the exchange carries |corpus| partials, never the
    * |corpus|×|eval| scored frame. The corpus itself is read once and
    * never shuffled wide. */
  def semanticContamination(
      corpus: DataFrame,
      eval: DataFrame,
      minCosine: Double = 0.9,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      evalIdCol: String = "eval_id",
      evalVecCol: String = "eval_vec"): DataFrame = {
    require(minCosine >= -1.0 && minCosine <= 1.0,
      s"minCosine must be in [-1,1]: $minCosine")
    GraftFunctions.register(corpus.sparkSession)
    corpus
      .crossJoin(broadcast(eval.select(col(evalIdCol), col(evalVecCol))))
      .select(
        col(idCol),
        round(cosine(col(vecCol), col(evalVecCol)), 4).as("cos"))
      .groupBy(idCol)
      .agg(max(col("cos")).as("max_cos_eval"))
      .withColumn("contaminated", col("max_cos_eval") >= minCosine)
  }

  /** The act step of [[semanticContamination]]: the corpus with every
    * flagged row removed. One scan + the same broadcast probe — the
    * anti-join is on the flag computed in-plan, so no second pass over
    * the corpus and no id shuffle (the semi-join key frame is the
    * bounded flagged-id set). */
  def semanticDecontaminate(
      corpus: DataFrame,
      eval: DataFrame,
      minCosine: Double = 0.9,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      evalIdCol: String = "eval_id",
      evalVecCol: String = "eval_vec"): DataFrame = {
    val flagged = semanticContamination(corpus, eval, minCosine,
      idCol, vecCol, evalIdCol, evalVecCol)
      .filter(col("contaminated"))
      .select(col(idCol))
    corpus.join(flagged, Seq(idCol), "left_anti")
  }
}
