package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding quantization — the storage/bandwidth scale path for
  * vector columns. A 100 TB corpus's float32 embeddings are 4 bytes
  * per dimension; symmetric int8 cuts that 4× (plus one float scale
  * per vector) at a bounded reconstruction error of `scale/2` per
  * element, which is what makes billion-vector ANN shippable.
  *
  * Everything here is per-row column algebra over the array — higher-
  * order functions (`transform`/`aggregate`/`array_max`), zero UDFs,
  * zero shuffles; the plan fuses into whatever scan precedes it.
  */
object Quantize {

  private def asDouble(vecCol: String): Column =
    transform(col(vecCol), x => x.cast("double"))

  /** Appends the shared (max|x| → scale → zero-safe divisor) scaffold
    * to a frame carrying `__graft_v`: `__graft_scale = max|x|/127`,
    * `__graft_ss = 1 when max|x| = 0 else __graft_scale`. ONE
    * definition for quantize / dequantize / profile — the zero-vector
    * guard and the scale arithmetic must stay identical across them
    * or the `max_abs_err ≤ scale/2` invariant (QuantizeSpec) silently
    * breaks between producer and audit. */
  private def withSafeScale(df: DataFrame): DataFrame =
    df.withColumn("__graft_maxabs",
        array_max(transform(col("__graft_v"), x => abs(x))))
      .withColumn("__graft_scale", col("__graft_maxabs") / lit(127.0))
      .withColumn("__graft_ss",
        when(col("__graft_maxabs") === 0.0, lit(1.0))
          .otherwise(col("__graft_scale")))

  /** Symmetric per-vector int8 quantization: `scale = max|x| / 127`,
    * `q_i = round(x_i / scale)` (ties away from zero) — so
    * `|q_i| ≤ 127` by construction and dequantization is `q_i·scale`.
    * An all-zero vector gets `scale = 0` and `q = 0⃗` (guarded — no
    * 0/0). Output: input columns minus `vecCol`, plus
    * `(scale, q: array<tinyint>)`. */
  def int8Quantize(
      embs: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    val pass = embs.columns.filterNot(_ == vecCol).map(col).toSeq
    withSafeScale(embs.select(pass :+ asDouble(vecCol).as("__graft_v"): _*))
      .withColumn("scale", col("__graft_scale"))
      .withColumn("q",
        transform(col("__graft_v"),
          x => round(x / col("__graft_ss")).cast("byte")))
      .drop("__graft_v", "__graft_maxabs", "__graft_scale", "__graft_ss")
  }

  /** Dequantized vectors `(…pass-through…, dv: array<double>)` —
    * `dv_i = round(x_i/scale)·scale`, the values an int8-backed ANN
    * store actually searches over. Computed directly from the floats
    * (bit-identical to a byte round-trip, since `|q_i| ≤ 127` never
    * clamps) so the plan stays one narrow projection. */
  def int8Dequantize(
      embs: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    val pass = embs.columns.filterNot(_ == vecCol).map(col).toSeq
    withSafeScale(embs.select(pass :+ asDouble(vecCol).as("__graft_v"): _*))
      .withColumn("dv",
        transform(col("__graft_v"),
          x => round(x / col("__graft_ss")) * col("__graft_ss")))
      .drop("__graft_v", "__graft_maxabs", "__graft_scale", "__graft_ss")
  }

  /** Per-vector reconstruction-error profile:
    * `(idCol, scale, max_abs_err, mse)` — the audit a pipeline runs
    * before committing to quantized storage. `max_abs_err ≤ scale/2`
    * by construction (pinned in QuantizeSpec); rounding (9/12
    * decimals) absorbs last-ulp float noise, not signal. */
  def int8Profile(
      embs: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    withSafeScale(embs.select(col(idCol), asDouble(vecCol).as("__graft_v")))
      .withColumn("__graft_errs",
        transform(col("__graft_v"),
          x => abs(x - round(x / col("__graft_ss")) * col("__graft_ss"))))
      .select(
        col(idCol),
        round(col("__graft_scale"), 9).as("scale"),
        round(array_max(col("__graft_errs")), 9).as("max_abs_err"),
        round(
          aggregate(col("__graft_errs"), lit(0.0), (a, e) => a + e * e) /
            size(col("__graft_v")).cast("double"), 12).as("mse"))

  // ---- product quantization -----------------------------------------

  /** Squared L2 distance between two equal-length double arrays. */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, e) => acc + e)

  /** Per-row dimension gate: a vector whose length differs from `dim`
    * raises instead of flowing on — `zip_with`/`slice` null-pad
    * length mismatches, which otherwise turns a ragged corpus or a
    * wrong-dimension batch into silently wrong distances and codes
    * (the failure the indexed path's stored `dim` check closes for
    * queries; this closes it for vector INPUTS). */
  private def dimChecked(v: Column, dim: Int, what: String): Column =
    when(size(v) === dim, v).otherwise(raise_error(concat(
      lit(s"$what dim "), size(v).cast("string"),
      lit(s" != expected $dim"))))

  /** The m×k ADC distance table
    * `dtab[s][c] = round₆‖q_sub(s) − cb[c]_sub(s)‖²` from a query
    * vector column and a broadcast/literal codebook column — the ONE
    * definition every live and indexed probe shares, so the round-6 /
    * slice arithmetic cannot drift between paths. Callers keep the
    * result in zip_with ARGUMENT position (the HOF outer-reference
    * trap — SURVEY §4). */
  private def adcTable(q: Column, cbCol: Column, m: Int,
      sub: Column): Column =
    transform(sequence(lit(0), lit(m - 1)), s => {
      val lo = s * sub + 1
      transform(cbCol, c =>
        round(sqDist(slice(q, lo, sub),
          slice(c.getField("c_vec"), lo, sub)), 6))
    })

  /** The per-subspace PQ encode — argmin round-6 sqDist, lower index
    * ties — of a vector column against a codebook column: the ONE
    * definition shared by the standalone encode, the live IVF-PQ
    * probe, the index build and the index append, so the assignment
    * contract cannot drift between them. */
  private def pqArgminCodes(v: Column, cbCol: Column, m: Int,
      sub: Column): Column =
    transform(sequence(lit(0), lit(m - 1)), s => {
      val lo = s * sub + 1
      array_min(transform(cbCol, (c, ci) =>
        struct(
          round(sqDist(slice(v, lo, sub),
            slice(c.getField("c_vec"), lo, sub)), 6).as("dist"),
          ci.as("code")))).getField("code")
    })

  /** The deterministic PQ codebook: per subspace, the sub-vectors of
    * the `k` LOWEST-ID vectors, in id order — a pure function of the
    * data (the fixed-centroid trick from
    * [[Similarity.fixedCentroidAssign]], so every code is
    * oracle-checkable; a learned k-means codebook slots in the same
    * shape). One row: `cb = array<struct(c_id, c_vec)>` sorted by
    * id. */
  private def codebook(
      embs: DataFrame, k: Int, idCol: String, vecCol: String) =
    embs.orderBy(col(idCol)).limit(k)
      .select(struct(col(idCol).as("c_id"),
        asDouble(vecCol).as("c_vec")).as("e"))
      .groupBy()
      .agg(sort_array(collect_list(col("e"))).as("cb"))

  /** Product-quantization codes — the billion-vector ANN storage
    * shape (IVF-PQ): the `dim`-dimensional vector splits into `m`
    * subspaces and each sub-vector is replaced by the index of its
    * nearest codebook entry, `m·log₂k` bits total (8 codes × 16
    * entries = 4 B/vector here vs 256 B float32 at dim 64). Code
    * assignment is argmin squared-L2 per subspace over the
    * deterministic codebook, distances rounded to 6, ties to the
    * LOWER codebook index — total order, engine-reproducible.
    * Output: `(idCol, codes: array<int> of length m)`.
    *
    * Scale shape: the codebook (k rows) broadcasts; every vector
    * encodes inside its own task via HOF column algebra — zero UDFs,
    * zero shuffles, fuses into the preceding scan. `dim` must be
    * divisible by `m` (checked per row by construction: slice
    * lengths). */
  def pqCodes(
      embs: DataFrame,
      m: Int = 8,
      k: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(m >= 1, s"m must be ≥ 1: $m")
    require(k >= 1, s"k must be ≥ 1: $k")
    pqCodesWith(embs, codebook(embs, k, idCol, vecCol), m, idCol, vecCol)
  }

  /** [[pqCodes]] against an already-derived codebook frame — so
    * [[pqTopK]] derives the codebook ONCE for both the encode and the
    * distance table instead of paying a second corpus order-limit
    * pass. */
  private def pqCodesWith(
      embs: DataFrame,
      cb: DataFrame,
      m: Int,
      idCol: String,
      vecCol: String): DataFrame = {
    val sub = size(col("__graft_v")) / m // subspace width (int div)
    embs
      .select(col(idCol), asDouble(vecCol).as("__graft_v"))
      .crossJoin(broadcast(cb))
      .select(
        col(idCol),
        pqArgminCodes(col("__graft_v"), col("cb"), m, sub).as("codes"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    * float, each corpus vector is its `m` codes, and the approximate
    * squared distance is the sum over subspaces of the PRECOMPUTED
    * (query sub-vector ↔ codebook entry) table — `m` lookups per
    * corpus vector instead of `dim` multiplies. Query + distance
    * table + codebook all broadcast; corpus rows score in their own
    * tasks and the only exchange is the bounded
    * `TakeOrderedAndProject` for the final k. Returns
    * `(idCol, adc_dist)`, ordered `(dist ASC, id ASC)` —
    * [[Similarity.bruteForceTopK]]'s output convention. */
  def pqTopK(
      embs: DataFrame,
      queryVec: Array[Double],
      topK: Int = 10,
      m: Int = 8,
      k: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(queryVec.length % m == 0,
      s"dim ${queryVec.length} must be divisible by m=$m")
    // corpus rows must match the query dimension — a ragged or
    // mismatched row raises instead of null-padding into wrong codes
    val checked = embs.withColumn(vecCol,
      dimChecked(col(vecCol), queryVec.length, "corpus vector"))
    val cb = codebook(checked, k, idCol, vecCol)
    val codes = pqCodesWith(checked, cb, m, idCol, vecCol)
    val q = typedLit(queryVec.toSeq)
    val sub = queryVec.length / m
    // dtab[s][c] = ||q_sub(s) − cb[c]_sub(s)||², m×k doubles — query-
    // constant, so derived ONCE on the one-row codebook frame and
    // broadcast as a plain column (in zip_with argument position the
    // expression re-derived the whole table per scored row — the
    // measured x100 ADC cost was table re-derivation, not lookups)
    val dtabDf = cb.select(
      adcTable(q, col("cb"), m, lit(sub)).as("__graft_dtab"))
    codes
      .crossJoin(broadcast(dtabDf))
      .select(col(idCol),
        Similarity.adcDist(col("__graft_dtab"), col("codes")).as("adc_dist"))
      .orderBy(col("adc_dist"), col(idCol))
      .limit(topK)
  }

  /** The deterministic ±1 sign of the Johnson–Lindenstrauss
    * projection matrix at (outDim j, inDim i): the engine's rolling
    * text hash of `"rp#j#i"` mod 2 — a pure function both engines can
    * re-derive, no RNG, no stored matrix. (Same recurrence as
    * [[graft.functions.TextHash]]: acc·131 + char mod 2³¹−1.) */
  def jlSign(j: Int, i: Int): Double = {
    val s = s"rp#$j#$i"
    var acc = 0L
    var c = 0
    while (c < s.length) {
      acc = (acc * 131L + s.charAt(c).toLong) % 2147483647L
      c += 1
    }
    if (acc % 2 == 0) 1.0 else -1.0
  }

  /** Johnson–Lindenstrauss random projection to `outDim` dimensions
    * with a DETERMINISTIC sign matrix (Achlioptas 2003's ±1 variant —
    * public method): `y_j = (1/√outDim) Σ_i x_i·s(j,i)`. The sign
    * matrix is a pure hash function of (j, i) — computed once on the
    * driver, shipped as a plan literal (outDim·inDim doubles — for
    * 64→16 that is 8 KiB), and exactly re-derivable by the oracle —
    * so the projection is bit-reproducible everywhere and costs one
    * narrow codegen pass per row: no shuffle, no model state, no RNG.
    * This is the cheap embedding-compression step before ANN
    * indexing: 4× fewer dimensions ⇒ 4× less scan bandwidth, with
    * pairwise geometry preserved to JL distortion.
    *
    * Determinism of the values: each `y_j` is a LEFT FOLD over the
    * input array (`aggregate` with 0.0 init ≡ DuckDB's list_reduce
    * over a 0.0-prepended list), the matched-summation-order contract
    * `emb_quantize_int8` established.
    *
    * `inDim` must equal the vector length (checked per row — a
    * mismatched row yields null, surfacing bad data instead of
    * silently truncating). */
  def jlProject(
      embs: DataFrame,
      inDim: Int,
      outDim: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(outDim >= 1 && outDim <= inDim,
      s"outDim must be in [1, inDim=$inDim]: $outDim")
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val v = transform(col(vecCol), x => x.cast("double"))
    val proj = array((0 until outDim).map { j =>
      val signs = array((0 until inDim).map(i => lit(jlSign(j, i))): _*)
      (aggregate(
        zip_with(v, signs, (xi, si) => xi * si),
        lit(0.0), (acc, e) => acc + e) * lit(scale)).as(s"y$j")
    }: _*)
    embs.select(
      col(idCol),
      when(size(col(vecCol)) === inDim, proj).as("jl_vec"))
  }

  /** IVF-PQ (IVFADC) search — the composed billion-vector serving
    * shape: a Lloyd-trained coarse quantizer prunes the corpus to the
    * `nprobe` most query-similar inverted lists, and only those rows
    * are scored, by asymmetric distance over their `m` PQ codes
    * (query stays float; per-subspace distances come from the
    * precomputed query↔codebook table). At 100 TB the serving set is
    * codes + list ids — `m·log₂k` bits per vector, the coarse
    * assignment precomputed once ([[Similarity.ivfAssign]]'s
    * persisted-index shape) — so per-query cost is
    * `nprobe/nlist` of the corpus × `m` table lookups, no float
    * vectors touched. This operator keeps train + encode + search in
    * one call so the whole path stays oracle-checkable end to end.
    *
    * Determinism contract (all engine-reproducible in SQL):
    * training as [[Similarity.ivfTrainedTopK]], probing as
    * [[Similarity.probeLists]] (round-6 cosine, lower list id ties),
    * codes as [[pqCodes]] (round-6
    * squared-L2 argmin, lower code ties, codebook = `k` lowest-id
    * vectors of the FULL corpus), ADC as [[pqTopK]] (round-6 table
    * entries, round-4 sum, `(dist ASC, id ASC)` order).
    *
    * Scale shape: centroids and the k-row codebook are plan
    * literals / broadcasts; the corpus makes ONE scan (assign →
    * probe filter → encode → ADC fused in a single whole-stage
    * pipeline) and the only exchange is the bounded
    * `TakeOrderedAndProject` for the final k. */
  def ivfPqTopK(
      embs: DataFrame,
      queryVec: Array[Double],
      topK: Int = 10,
      nlist: Int = 4,
      iters: Int = 2,
      nprobe: Int = 2,
      m: Int = 8,
      k: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      excludeId: Long = -1L): DataFrame = {
    require(nprobe >= 1, s"nprobe must be ≥ 1: $nprobe")
    require(queryVec.length % m == 0,
      s"dim ${queryVec.length} must be divisible by m=$m")
    // corpus rows must match the query dimension (see pqTopK)
    val checked = embs.withColumn(vecCol,
      dimChecked(col(vecCol), queryVec.length, "corpus vector"))
    val vecs = Similarity.doubleVecs(checked, idCol, vecCol)
    val cents = Similarity.lloydCentroids(vecs, nlist, iters)
    if (cents.isEmpty)
      return embs.select(col(idCol),
        lit(null).cast("double").as("adc_dist")).limit(0)
    val q = typedLit(queryVec.toSeq)
    val sub = queryVec.length / m
    val probed = Similarity.probeLists(
      Similarity.centroidFrame(embs.sparkSession, cents,
        Some(queryVec.toSeq)), col("q_vec"), nprobe)
    val cb = codebook(checked, k, idCol, vecCol)
    // dtab[s][c] = round₆‖q_sub(s) − cb[c]_sub(s)‖² is query-constant:
    // derived ONCE on the one-row codebook frame and broadcast as a
    // plain column (in argument position the expression re-derived
    // the m×k table per scored row — the measured x100 trap). The
    // per-row encode stays inline: codesExpr depends on each row's v,
    // and sits in zip_with ARGUMENT position — referencing it from
    // inside a per-subspace lambda would re-evaluate it m times per
    // row (the HOF outer-reference trap, SURVEY §4; PlanLint's
    // hof-outer-reference rule flags it)
    val dtabDf = cb.select(
      adcTable(q, col("cb"), m, lit(sub)).as("__graft_dtab"))
    val codesExpr = pqArgminCodes(col("v"), col("cb"), m, lit(sub))
    Similarity.assignToCentroids(vecs, cents)
      .filter(col("vid") =!= lit(excludeId))
      .join(broadcast(probed), col("cid") === col("list_id"))
      .crossJoin(broadcast(cb))
      .crossJoin(broadcast(dtabDf))
      .select(col("vid").as(idCol),
        Similarity.adcDist(col("__graft_dtab"), codesExpr).as("adc_dist"))
      .orderBy(col("adc_dist"), col(idCol))
      .limit(topK)
  }

  // ---- persisted IVF-PQ serving index ---------------------------------

  /** Bump when the on-disk layout changes — a stale index is rebuilt,
    * never mis-read. v2: the code table becomes a directory of
    * SEGMENTS ([[graft.maintain.Segments]] — build writes `seg=base`,
    * each append one new segment with overwrite-own-directory
    * semantics, so an at-least-once streaming replay of the same
    * batch converges instead of duplicating code rows and returning
    * duplicate ids from top-k); meta additionally stores the vector
    * `dim` so a wrong-dimension query that happens to be divisible by
    * `m` is rejected instead of slicing the codebook at wrong offsets
    * and returning silently wrong ADC distances. */
  val PqIndexFormat: Int = 2

  /** Does a CURRENT-format PQ index exist at `path`? Same validity
    * protocol as [[Dedup.lshIndexExists]]: the meta table is written
    * LAST, so its `_SUCCESS` marker certifies every other table; a
    * format mismatch reads as absent. */
  def pqIndexExists(spark: SparkSession, path: String): Boolean =
    graft.maintain.Segments.metaFormatIs(spark, path, PqIndexFormat)

  /** Materialize the IVF-PQ serving index at `path` — the
    * build-once/probe-many form of [[ivfPqTopK]] (and of [[pqTopK]]:
    * one index serves both, the IVF probe just adds a list filter).
    * A serving deployment trains the coarse quantizer and derives the
    * PQ codebook ONCE; per query it touches only centroids (nlist
    * rows), the codebook (k rows) and the code table — `m·log₂k` bits
    * per vector, no float vectors. This writes that precomputation
    * (parquet, same pattern as [[Dedup.writeLshIndex]]):
    *
    *   - `path/centroids` — (list_id, c_vec): the Lloyd-trained
    *                        coarse quantizer, nlist rows
    *   - `path/codebook`  — (ci, c_vec): the deterministic PQ
    *                        codebook in code order, k rows
    *   - `path/codes`     — (id, cid, codes): per vector, its coarse
    *                        list and its m PQ codes — the ONLY
    *                        corpus-sized table, read through the
    *                        probe's broadcast list filter; segmented
    *                        (build = `seg=base`, appends add segments
    *                        idempotently — see [[appendToPqIndex]])
    *   - `path/meta`      — LAST (its `_SUCCESS` is the validity
    *                        marker): format, nlist, iters, m, k, dim —
    *                        the probe hashes with the STORED
    *                        parameters and rejects wrong-dimension
    *                        queries, so a build/probe mismatch cannot
    *                        happen
    *
    * Determinism: training/codebook/codes carry [[ivfPqTopK]]'s exact
    * contracts (round-6 arithmetic, lower-id/lower-index ties), so an
    * indexed probe is bit-equal to the live composed call. */
  def writePqIndex(
      embs: DataFrame,
      path: String,
      nlist: Int = 4,
      iters: Int = 2,
      m: Int = 8,
      k: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    require(m >= 1, s"m must be ≥ 1: $m")
    require(k >= 1, s"k must be ≥ 1: $k")
    val spark = embs.sparkSession
    graft.maintain.Segments.clearMeta(spark, path)
    def writeMeta(dim: Int): Unit =
      graft.maintain.Segments.writeMeta(spark, path,
        lit(PqIndexFormat).as("format"),
        lit(nlist).as("nlist"),
        lit(iters).as("iters"),
        lit(m).as("m"),
        lit(k).as("k"),
        lit(dim).as("dim"))
    val vecs = Similarity.doubleVecs(embs, idCol, vecCol)
    val cents = Similarity.lloydCentroids(vecs, nlist, iters)
    if (cents.isEmpty) {
      // a zero-row corpus yields a VALID empty index (probes return
      // no rows) — an engine meets empty inputs constantly, and a
      // build that crashes on nothing-to-do is not production-grade.
      // dim is unknown (-1): the first non-empty bootstrap append
      // rebuilds with the real dimension
      vecs.select(col("vid").cast("long").as("list_id"),
          col("v").as("c_vec")).limit(0)
        .write.mode("overwrite").parquet(s"$path/centroids")
      vecs.select(lit(0).as("ci"), col("v").as("c_vec")).limit(0)
        .write.mode("overwrite").parquet(s"$path/codebook")
      graft.maintain.Segments.writeBase(
        vecs.select(col("vid").as("id"), lit(0L).as("cid"),
          typedlit(Seq.empty[Int]).as("codes")).limit(0),
        s"$path/codes")
      writeMeta(dim = -1)
      return
    }
    val dim = cents.head._2.length
    require(dim % m == 0, s"dim $dim must be divisible by m=$m")
    Similarity.centroidFrame(spark, cents)
      .write.mode("overwrite").parquet(s"$path/centroids")
    val cb = codebook(embs, k, idCol, vecCol)
    cb.select(posexplode(col("cb")).as(Seq("ci", "e")))
      .select(col("ci"), col("e").getField("c_vec").as("c_vec"))
      .write.mode("overwrite").parquet(s"$path/codebook")
    // codes: coarse assignment + PQ encode fused in one corpus scan —
    // pqCodes' exact per-subspace argmin (round-6 sqDist, lower index
    // ties) against the broadcast codebook row
    graft.maintain.Segments.writeBase(
      Similarity.assignToCentroids(vecs, cents)
        .crossJoin(broadcast(cb))
        .select(col("vid").as("id"), col("cid"), fusedCodes(m).as("codes")),
      s"$path/codes")
    // meta LAST: its _SUCCESS is the index's validity marker
    writeMeta(dim)
  }

  /** The per-vector PQ encode over a `(vid, v, cid)` frame cross-
    * joined with the one-row broadcast `cb` codebook: pqCodes' exact
    * per-subspace argmin (round-6 sqDist, lower index ties) — shared
    * by the index build and the append path so the two cannot
    * drift. */
  private def fusedCodes(m: Int): Column =
    pqArgminCodes(col("v"), col("cb"), m, size(col("v")) / m)

  /** Incremental index maintenance: assign NEW vectors to the FROZEN
    * coarse quantizer, encode them with the FROZEN codebook, and
    * append their codes to the persisted index — the serving-index
    * update path (a retrain is a new [[writePqIndex]]; this is the
    * between-retrains append a streaming ingest performs per
    * micro-batch — see [[graft.streaming.Incremental
    * .annIndexAppendStream]]). The centroid and codebook tables are
    * immutable under append, so concurrent probes stay consistent;
    * new codes land as a new SEGMENT of `codes/` ([[graft.maintain
    * .Segments.writeSegment]]) — IDEMPOTENT per `segId`, so the
    * streaming arm's at-least-once replay of a batch (crash after the
    * codes write, before the checkpoint commit) overwrites its own
    * segment instead of duplicating code rows (which would surface as
    * duplicate ids in top-k). Appending to a still-EMPTY index
    * bootstraps it instead: trains on this first batch with the
    * index's stored (nlist, iters, m, k) — the streaming deployment's
    * cold start (every bootstrap write is itself an overwrite, so the
    * replay converges there too).
    *
    * Scale shape: per batch, ONE scan of the new vectors (assign →
    * encode fused, centroids + codebook broadcast), zero shuffles,
    * zero reads of existing codes. */
  def appendToPqIndex(
      newVecs: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      segId: String = graft.maintain.Segments.freshSegId()): Unit = {
    val spark = newVecs.sparkSession
    require(pqIndexExists(spark, path),
      s"no PQ index at $path — writePqIndex first")
    val meta = graft.maintain.Segments.metaRow(spark, path).get
    val m = meta.getAs[Int]("m")
    val cents = storedCentroids(spark, path)
    if (cents.isEmpty) {
      // cold start: the empty index trains on its first batch, with
      // the parameters the index was declared with
      writePqIndex(newVecs, path,
        nlist = meta.getAs[Int]("nlist"), iters = meta.getAs[Int]("iters"),
        m = m, k = meta.getAs[Int]("k"), idCol = idCol, vecCol = vecCol)
      return
    }
    // the stored dim gates every appended row: a wrong-dimension
    // batch would null-pad through zip_with into garbage codes that
    // poison every future probe — raise instead (the same gate the
    // probes apply to queries)
    val storedDim = meta.getAs[Int]("dim")
    val checked =
      if (storedDim < 0) newVecs
      else newVecs.withColumn(vecCol,
        dimChecked(col(vecCol), storedDim, "appended vector"))
    graft.maintain.Segments.writeSegment(
      Similarity.assignToCentroids(
          Similarity.doubleVecs(checked, idCol, vecCol), cents)
        .withColumn("cb", readCodebookLiteral(spark, path))
        .select(col("vid").as("id"), col("cid"), fusedCodes(m).as("codes")),
      s"$path/codes", segId)
  }

  /** The stored coarse quantizer as `(list_id, c_vec)` pairs, through
    * the [[graft.maintain.Segments.localRows]] memo: nlist rows, empty
    * on a never-bootstrapped index. */
  private def storedCentroids(
      spark: SparkSession, path: String): Array[(Long, Seq[Double])] =
    graft.maintain.Segments.localRows(spark, s"$path/centroids")
      .get.toArray.map(r => (r.getLong(0), r.getSeq[Double](1)))

  /** Compact an appended index's code table back to the canonical
    * single-segment layout ([[graft.maintain.Segments.replaceTable]] —
    * crash-safe swap, probes see old-or-new), in
    * [[graft.maintain.Segments.shardCount]] files, as the other index
    * compactions write. Code rows cluster by their coarse list on the
    * way through, so a probe's broadcast `cid` filter skips whole row
    * groups — the file-pruning layout a fresh build's assignment scan
    * does not bother to impose but a compaction pass gets for free.
    * Probe results are unchanged (same rows, same arithmetic; pinned
    * in QuantizeSpec). */
  def compactPqIndex(spark: SparkSession, path: String): Unit =
    compactPqCodes(spark, path, graft.maintain.Segments.shardCount)

  /** [[compactPqIndex]] into exactly `targetFiles` files. */
  def compactPqIndex(
      spark: SparkSession, path: String, targetFiles: Int): Unit =
    compactPqCodes(spark, path, _ => targetFiles)

  private def compactPqCodes(spark: SparkSession, path: String,
      files: DataFrame => Int): Unit = {
    require(pqIndexExists(spark, path),
      s"no PQ index at $path — writePqIndex first")
    graft.maintain.Segments.replaceTable(spark, s"$path/codes")(t =>
      t.repartitionByRange(files(t), col("cid"), col("id"))
        .sortWithinPartitions("cid", "id"))
  }

  /** The stored codebook as a PLAN LITERAL `array<struct(ci, c_vec)>`
    * in ci order: k rows × dim doubles — bounded model state by
    * construction (the same treatment the live path gives Lloyd
    * centroids). Collecting it once beats rebuilding a one-row frame
    * per probe with a `groupBy().collect_list` shuffle; the values
    * are read verbatim from parquet (no arithmetic), so literal ≡
    * frame bit for bit. */
  private def readCodebookLiteral(
      spark: SparkSession, path: String): Column = {
    val rows = graft.maintain.Segments.localRows(spark, s"$path/codebook")
      .get.toArray
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    if (rows.isEmpty)
      array().cast("array<struct<ci:int,c_vec:array<double>>>")
    else array(rows.map { case (ci, vec) =>
      struct(lit(ci).as("ci"), typedlit(vec).as("c_vec"))
    }.toIndexedSeq: _*)
  }

  /** The shared indexed ADC scan: probe the stored code table with a
    * float query, optionally filtered to the `nprobe` most
    * query-similar coarse lists. Per probed row the cost is `m` table
    * lookups. The lists are ranked over the stored centroids as plan
    * literals ([[storedCentroids]], the memo the append fills;
    * [[Similarity.centroidFrame]] with the query riding each row), so
    * no centroid table is scanned; the query↔codebook distance table
    * and the probe list set broadcast; the only other exchange is the
    * bounded `TakeOrderedAndProject` for the final k. An empty index
    * (dim −1, no centroids) returns no rows. */
  private def adcTopKIndexed(
      spark: SparkSession,
      indexPath: String,
      queryVec: Array[Double],
      topK: Int,
      nprobe: Option[Int],
      excludeId: Long,
      idCol: String): DataFrame = {
    require(pqIndexExists(spark, indexPath),
      s"no PQ index at $indexPath — writePqIndex first")
    val meta = graft.maintain.Segments.metaRow(spark, indexPath).get
    val m = meta.getAs[Int]("m")
    // the stored build dimension gates the query: a wrong-dim query
    // that is still divisible by m would slice the codebook at wrong
    // offsets and return silently wrong distances (dim = -1 only on a
    // never-bootstrapped empty index, whose probe returns no rows)
    val storedDim = meta.getAs[Int]("dim")
    require(storedDim < 0 || queryVec.length == storedDim,
      s"query dim ${queryVec.length} != index dim $storedDim")
    require(queryVec.length % m == 0,
      s"dim ${queryVec.length} must be divisible by stored m=$m")
    val sub = queryVec.length / m
    val q = typedLit(queryVec.toSeq)
    // the stored codebook enters as a plan literal in ci order —
    // positions must match the stored codes. The m×k table is
    // query-constant, so it is derived ONCE on a one-row broadcast
    // frame and scored through Similarity.adcDist: in zip_with
    // argument position the expression still re-derived the whole
    // table PER SCORED ROW — m·k interpreted sqDists over dim/m-wide
    // slices, measured ~0.2 ms/row = 10.9 s over the 5·10⁴-row x100
    // code table vs a 0.15 s scan
    val cbLit = readCodebookLiteral(spark, indexPath)
    val dtabDf = spark.range(1).select(
      adcTable(q, cbLit, m, lit(sub)).as("__graft_dtab"))
    val codes0 = graft.maintain.Segments.read(spark, s"$indexPath/codes")
      .filter(col("id") =!= lit(excludeId))
    val codes = nprobe match {
      case Some(np) =>
        require(np >= 1, s"nprobe must be ≥ 1: $np")
        val cents = storedCentroids(spark, indexPath)
        if (cents.isEmpty) codes0.filter(lit(false))
        else {
          val probed = Similarity.probeLists(
            Similarity.centroidFrame(spark, cents, Some(queryVec.toSeq)),
            col("q_vec"), np)
          codes0.join(broadcast(probed), col("cid") === col("list_id"))
        }
      case None => codes0
    }
    codes
      .crossJoin(broadcast(dtabDf))
      .select(col("id").as(idCol),
        Similarity.adcDist(col("__graft_dtab"), col("codes")).as("adc_dist"))
      .orderBy(col("adc_dist"), col(idCol))
      .limit(topK)
  }

  /** [[ivfPqTopK]] against a PERSISTED index instead of in-query
    * training: same probe ranking, same codes, same ADC arithmetic,
    * same `(adc_dist ASC, id ASC)` output — but Lloyd training, the
    * codebook derivation and the coarse assignment are amortized into
    * [[writePqIndex]], so the per-query cost is
    * `nprobe/nlist × corpus × m` lookups, the serving cost model.
    *
    * Serving default (measured by the retired RecallProbe main at
    * sf0.1, recorded in SCALE_PROBES.md): `nprobe = 2` is the COST
    * default; probe cost tracks the probed fraction (the retired
    * IvfPqScaleProbe, same file) and recall vs the
    * full-ADC scan — the only loss nprobe controls — was 0.51 at 2/8
    * and 1.0 at 8/8. Recall-sensitive paths should serve through
    * [[ivfPqTopKReranked]] instead of raising nprobe: on the
    * structureless fixture, quantization (not probe pruning) bounds
    * raw-ADC recall@10 at ~0.2 regardless of nprobe or codebook size,
    * while the re-rank recovers 0.65–0.85 (and a returned-vs-true
    * distance ratio ≤1.06) at marginal cost. No fixed nprobe clears a
    * universal recall floor — the operating point is corpus-dependent.
    * QuantizeSpec pins the planted-duplicate recall through the probe
    * pruning and the batch ≡ single-query equality; the recorded
    * recall + dist_ratio sweep over nprobe and shortlist is in
    * SCALE_PROBES.md. */
  def ivfPqTopKIndexed(
      spark: SparkSession,
      indexPath: String,
      queryVec: Array[Double],
      topK: Int = 10,
      nprobe: Int = 2,
      excludeId: Long = -1L,
      idCol: String = "vec_id"): DataFrame =
    adcTopKIndexed(spark, indexPath, queryVec, topK, Some(nprobe),
      excludeId, idCol)

  /** [[pqTopK]] against the same persisted index — full ADC scan of
    * the stored codes (no list filter), codebook derivation amortized
    * into the build. */
  def pqTopKIndexed(
      spark: SparkSession,
      indexPath: String,
      queryVec: Array[Double],
      topK: Int = 10,
      excludeId: Long = -1L,
      idCol: String = "vec_id"): DataFrame =
    adcTopKIndexed(spark, indexPath, queryVec, topK, None,
      excludeId, idCol)

  /** Index-served BATCH ANN — the k-NN JOIN against the PERSISTED
    * IVF-PQ index: top-k approximate neighbors for EVERY query row,
    * one plan, nothing trained or encoded in-query. This is the shape
    * a backfill or hard-negative-mining run actually executes at
    * serving time: [[graft.llm.Similarity.ivfKnnJoin]] re-trains the
    * coarse quantizer per invocation (the right form for a one-off
    * oracle-checkable call); here training, the codebook and the
    * corpus encode are all amortized into [[writePqIndex]], and the
    * per-run cost is `nprobe/nlist × |codes| × m` table lookups — no
    * float corpus vectors are read at all.
    *
    * Plan shape: the memoised stored centroids (nlist literal rows)
    * rank each query's probes in-plan ([[Similarity.probeLists]]'
    * batch form); each query's m×k ADC distance table is derived ONCE
    * on the nq-row query frame and rides the broadcast (query, probed list)
    * pairs into the stored code table; per-row scoring is `m` array
    * lookups ([[Similarity.adcDist]]); per-query top-k is
    * [[Similarity.perQueryTopK]]'s bounded heap, ascending — ≤ k rows
    * per (query, map task) cross the exchange, never the scored
    * pairs.
    *
    * Output: `(queryIdCol, idCol, adc_dist, rank)`, rank by
    * `(adc_dist ASC, id ASC)` within each query — a row-level oracle
    * surface (`ann_ivf_knn_indexed` re-derives training, probes,
    * codes, distance tables and every rank in SQL). `excludeSelf`
    * as in [[graft.llm.Similarity.knnJoin]]. */
  def ivfPqKnnJoinIndexed(
      spark: SparkSession,
      indexPath: String,
      queries: DataFrame,
      k: Int = 10,
      nprobe: Int = 2,
      queryIdCol: String = "q_id",
      queryVecCol: String = "q_vec",
      idCol: String = "vec_id",
      excludeSelf: Boolean = true): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(nprobe >= 1, s"nprobe must be ≥ 1: $nprobe")
    require(pqIndexExists(spark, indexPath),
      s"no PQ index at $indexPath — writePqIndex first")
    graft.functions.GraftFunctions.register(spark)
    val meta = graft.maintain.Segments.metaRow(spark, indexPath).get
    val m = meta.getAs[Int]("m")
    val storedDim = meta.getAs[Int]("dim")
    val q = queries.select(
      col(queryIdCol).as("__graft_qid"),
      col(queryVecCol).cast("array<double>").as("__graft_qv"))
    // stored dim gates every query row (storedDim = -1 only on a
    // never-bootstrapped empty index, whose code table is empty)
    val qChecked =
      if (storedDim < 0) q
      else q.select(col("__graft_qid"),
        when(size(col("__graft_qv")) === storedDim, col("__graft_qv"))
          .otherwise(raise_error(concat(
            lit(s"query dim != index dim $storedDim for id "),
            col("__graft_qid").cast("string")))).as("__graft_qv"))
    // per-query ADC distance table, derived ONCE on the nq-row query
    // frame from the stored codebook literal (adcTable's round-6
    // arithmetic); sub is resolved per row from the checked query
    // length, so it equals storedDim/m
    val cbLit = readCodebookLiteral(spark, indexPath)
    val sub = size(col("__graft_qv")) / m
    val dtab = adcTable(col("__graft_qv"), cbLit, m, sub)
    val qTabs = qChecked.select(
      col("__graft_qid"), col("__graft_qv"), dtab.as("__graft_dtab"))
    // lists rank over the memoised stored centroids, the same source
    // the single-query probe reads; an empty index (no centroids)
    // keeps no code row without building a zero-element frame
    val cents = storedCentroids(spark, indexPath)
    val codes = graft.maintain.Segments.read(spark, s"$indexPath/codes")
    val joined =
      if (cents.isEmpty) codes.crossJoin(qTabs).filter(lit(false))
      else codes.join(broadcast(Similarity.probeLists(
        Similarity.centroidFrame(spark, cents), qTabs,
        "__graft_qid", "__graft_qv", nprobe, carry = Seq("__graft_dtab"))),
        col("cid") === col("list_id"))
    val scored = (if (excludeSelf)
        joined.filter(col("id") =!= col("__graft_qid"))
      else joined)
      .select(col("__graft_qid").as(queryIdCol), col("id").as(idCol),
        Similarity.adcDist(col("__graft_dtab"), col("codes")).as("adc_dist"))
    Similarity.perQueryTopK(scored, queryIdCol, idCol, "adc_dist", k,
      descending = false)
  }

  // ---- exact re-rank (refine) over the persisted index ---------------

  /** Exact squared-L2 re-rank ("refine") over the PERSISTED index —
    * the standard recall-recovery stage for compressed-domain ANN:
    * ADC is lossy twice (coarse-probe pruning + PQ quantization), so
    * a serving path that needs recall close to exact takes a
    * `shortlist > topK` ADC candidate set from the index and re-ranks
    * ONLY those ids by true squared-L2 distance against the float
    * table. Final recall@k equals the shortlist's ADC recall@shortlist
    * — quantization error is fully removed, probe-pruning loss is all
    * that remains (measured by the retired RecallProbe main, recorded
    * in SCALE_PROBES.md: at sf0.1 the re-rank lifts recall@10 from
    * ~0.2 (quantization-bound raw ADC) to 0.65–0.85 at factor 16,
    * with the returned-vs-true distance ratio dropping 1.2 → ≤1.06;
    * this is the recommended serving form for recall-sensitive
    * paths — factor 4 default, 16 when a recall floor matters).
    *
    * Scale shape: the shortlist is bounded by construction
    * (`shortlist` rows — the one collect here), and the exact stage
    * reads ONLY those rows through a pushed-down `idCol IN (…)`
    * filter on the float table (row-group pruning on a
    * sorted-by-id layout), so per-query float work is
    * `shortlist × dim` — independent of corpus size. Output:
    * `(idCol, exact_dist)` ranked `(exact_dist ASC, id ASC)`. */
  def ivfPqTopKReranked(
      spark: SparkSession,
      indexPath: String,
      emb: DataFrame,
      queryVec: Array[Double],
      topK: Int = 10,
      nprobe: Int = 2,
      shortlist: Int = 40,
      excludeId: Long = -1L,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(topK > 0, s"topK must be positive: $topK")
    require(shortlist >= topK,
      s"shortlist ($shortlist) must be ≥ topK ($topK)")
    // bounded by construction: exactly `shortlist` ids come back
    val ids = adcTopKIndexed(spark, indexPath, queryVec, shortlist,
        Some(nprobe), excludeId, idCol)
      .select(col(idCol).cast("long")).collect().map(_.getLong(0))
    val q = typedLit(queryVec.toSeq)
    emb
      .filter(col(idCol).isin(ids.map(Long.box): _*))
      .select(col(idCol),
        // rerank-table gate: zip_with null-pads a wrong-dimension
        // float table, exact_dist goes null, and NULLS FIRST would
        // rank those rows FIRST — raise instead (ADVICE r15)
        round(sqDist(
          dimChecked(transform(col(vecCol), x => x.cast("double")),
            queryVec.length, "rerank table vector"), q), 4)
          .as("exact_dist"))
      .orderBy(col("exact_dist"), col(idCol))
      .limit(topK)
  }

  /** Batch form of [[ivfPqTopKReranked]] — the refine stage composed
    * onto [[ivfPqKnnJoinIndexed]], still ONE plan and no driver-side
    * ids: each query's ADC shortlist (`k × shortlistFactor` rows,
    * bounded by the index join's `collect_top_k` heap) joins the
    * float table on id to fetch exactly the candidate vectors — at
    * scale a thin hash-shuffle on id, never a corpus scan per query —
    * then re-ranks per query by true squared-L2 (a window over the
    * ≤ `k × shortlistFactor`-row per-query frame, the bounded
    * [[ivfPqKnnJoinIndexed]] probeSet pattern). Output:
    * `(queryIdCol, idCol, exact_dist, rank)`. */
  def ivfPqKnnJoinIndexedReranked(
      spark: SparkSession,
      indexPath: String,
      emb: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      nprobe: Int = 2,
      shortlistFactor: Int = 4,
      queryIdCol: String = "q_id",
      queryVecCol: String = "q_vec",
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      excludeSelf: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k must be positive: $k")
    require(shortlistFactor >= 1,
      s"shortlistFactor must be ≥ 1: $shortlistFactor")
    val short = ivfPqKnnJoinIndexed(spark, indexPath, queries,
        k = k * shortlistFactor, nprobe = nprobe,
        queryIdCol = queryIdCol, queryVecCol = queryVecCol,
        idCol = idCol, excludeSelf = excludeSelf)
      .select(col(queryIdCol), col(idCol))
    // rerank-table gate against the STORED index dim: a
    // wrong-dimension float table would null-pad through zip_with
    // into null exact_dist, which ASC NULLS FIRST ranks at 1 —
    // arbitrary ids served silently (ADVICE r15). dim = -1 only on
    // a never-bootstrapped empty index (probe returns no rows).
    val storedDim = graft.maintain.Segments.metaRow(spark, indexPath)
      .get.getAs[Int]("dim")
    val floats = emb.select(col(idCol),
      (if (storedDim < 0)
         transform(col(vecCol), x => x.cast("double"))
       else
         dimChecked(transform(col(vecCol), x => x.cast("double")),
           storedDim, "rerank table vector")).as("__graft_v"))
    val qv = queries.select(
      col(queryIdCol),
      col(queryVecCol).cast("array<double>").as("__graft_qv"))
    short
      .join(floats, idCol)
      .join(qv, queryIdCol)
      .select(col(queryIdCol), col(idCol),
        round(sqDist(col("__graft_v"), col("__graft_qv")), 4)
          .as("exact_dist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(queryIdCol)
          .orderBy(col("exact_dist"), col(idCol))))
      .filter(col("rank") <= k)
  }
}
