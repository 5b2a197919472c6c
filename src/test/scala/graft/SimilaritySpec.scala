package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Similarity

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosine on known vectors") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 1.0f), Array(1.0f, 0.0f))
    ).toDF("a", "b")
    val got = df.select(round(Similarity.cosine($"a", $"b"), 6)).collect()
      .map(_.getDouble(0)).toSeq
    assert(got == Seq(1.0, 0.0, 0.707107))
  }

  lazy val emb = Tables.embeddings(spark, TestSpark.sf0001).cache()
  lazy val query = emb.filter($"vec_id" === 0).select($"embedding".as("q_vec"))

  lazy val bruteTop = Similarity
    .bruteForceTopK(emb, query, k = 10, excludeId = 0L)
    .select("vec_id").as[Long].collect().toSet

  test("brute force topk returns k ordered results") {
    val rows = Similarity.bruteForceTopK(emb, query, k = 10, excludeId = 0L)
      .as[(Long, Double)].collect()
    assert(rows.length == 10)
    assert(rows.map(_._2).toSeq == rows.map(_._2).sorted.reverse.toSeq)
    assert(!rows.map(_._1).contains(0L))
  }

  test("LSH ANN recall vs brute force") {
    val lshTop = Similarity
      .lshTopK(emb, query, k = 10, excludeId = 0L)
      .select("vec_id").as[Long].collect().toSet
    assert(lshTop.size == 10)
    // approximate: require non-trivial overlap with the exact answer
    assert((lshTop intersect bruteTop).size >= 2,
      s"LSH recall too low: ${(lshTop intersect bruteTop).size}/10")
  }

  test("IVF assignment covers all vectors; probe returns ranked k") {
    val indexed = Similarity.ivfAssign(emb, nlist = 8).cache()
    assert(indexed.count() == emb.count())
    assert(indexed.filter($"list_id".isNull).count() == 0)
    val nLists = indexed.select("list_id").distinct().count()
    assert(nLists > 1 && nLists <= 8)
    val top = Similarity.ivfTopK(indexed, query, k = 10, nprobe = 4,
      excludeId = 0L).as[(Long, Double)].collect()
    assert(top.length == 10)
    assert(top.map(_._2).toSeq == top.map(_._2).sorted.reverse.toSeq)
    assert((top.map(_._1).toSet intersect bruteTop).nonEmpty)
  }

  test("ivfTopK ranks each list by its lowest-id member, not an arbitrary one") {
    // one partition, ids descending: a first-row representative would
    // be each list's HIGHEST id — list 0's far member 9, which ranks
    // list 0 last, so nprobe = 1 would probe list 4 and miss the
    // planted neighbour 1. The lowest id (the centroid) ranks list 0
    // first.
    val indexed = Seq(
      (9L, Array(0.0f, 1.0f), 0L),
      (8L, Array(0.8f, 0.6f), 4L),
      (4L, Array(0.7f, 0.7f), 4L),
      (1L, Array(1.0f, 0.05f), 0L),
      (0L, Array(1.0f, 0.0f), 0L))
      .toDF("vec_id", "embedding", "list_id")
      .repartition(1).sortWithinPartitions($"vec_id".desc)
    val q = Seq(Tuple1(Array(1.0f, 0.04f))).toDF("q_vec")
    val top = Similarity.ivfTopK(indexed, q, k = 1, nprobe = 1)
      .select("vec_id").as[Long].collect().toSeq
    assert(top == Seq(1L))
  }

  test("IVF gate rows: superset-prune holds, planted copy is top-1") {
    val audit = graft.llm.LlmQueries.annIvf
      .run(spark, TestSpark.sf0001).head()
    assert(audit.getAs[Long]("k_returned") == 10L)
    assert(audit.getAs[Long]("n_outside_bf_top100") == 0L,
      "IVF top-10 escaped the brute-force top-100")
    val planted = graft.llm.LlmQueries.annIvfPlanted
      .run(spark, TestSpark.sf0001).as[(Long, Double)].head()
    assert(planted == ((1000000L, 1.0)))
  }

  test("knn join per-query rows equal single-query brute force") {
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val joined = Similarity.knnJoin(queries, emb, k = 10)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(joined.keySet == (0L until 5L).toSet)
    for (q <- 0L until 5L) {
      val single = Similarity.bruteForceTopK(
          emb,
          emb.filter($"vec_id" === q).select($"embedding".as("q_vec")),
          k = 10, excludeId = q)
        .select("vec_id").as[Long].collect().toSet
      assert(joined(q) == single, s"query $q differs from brute force")
    }
  }

  test("knn join works with STRING ids (tie-break is type-agnostic)") {
    // the heap struct orders by (-cos_sim, id), so any orderable id
    // type works — this pins the fix for the earlier numeric-only
    // (cos_sim, -id) formulation, which failed analysis on strings
    // and overflowed on Long.MinValue
    val sCorpus = emb.select(
      concat(lit("doc-"), format_string("%04d", $"vec_id")).as("vec_id"),
      $"embedding")
    val sQueries = sCorpus.filter($"vec_id" < "doc-0003")
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val got = Similarity.knnJoin(sQueries, sCorpus, k = 5)
      .select("q_id", "vec_id", "rank").as[(String, String, Int)].collect()
    assert(got.map(_._1).toSet == Set("doc-0000", "doc-0001", "doc-0002"))
    assert(got.groupBy(_._1).forall(_._2.length == 5))
    // numeric-id answer at the same k must match under the id mapping
    val numeric = Similarity
      .knnJoin(emb.filter($"vec_id" < 3)
        .select($"vec_id".as("q_id"), $"embedding".as("q_vec")), emb, k = 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .map { case (q, v) => (f"doc-$q%04d", f"doc-$v%04d") }.toSet
    assert(got.map(t => (t._1, t._2)).toSet == numeric)
  }

  test("knn join external batch: excludeSelf=false keeps a colliding id") {
    // an EXTERNAL query batch whose id coincidentally collides with a
    // corpus id: with excludeSelf=false the collision must not drop a
    // true neighbor — the query vector IS corpus vector 3, so vec_id 3
    // (cosine 1.0) must be its rank-1 neighbor
    val external = emb.filter($"vec_id" === 3)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val kept = Similarity.knnJoin(external, emb, k = 1, excludeSelf = false)
      .select("vec_id", "cos_sim").as[(Long, Double)].head()
    assert(kept == ((3L, 1.0)), s"self row must survive: $kept")
    // and the default (in-corpus semantics) still drops it
    val dropped = Similarity.knnJoin(external, emb, k = 1)
      .select("vec_id").as[Long].head()
    assert(dropped != 3L)
  }

  test("semDedup: exact copies drop to one representative; LSH tier agrees") {
    // clone vector 50 twice: priority (cos_to_centroid, -id) keeps
    // the ORIGINAL (lowest id at equal centroid-cosine); at the 0.95
    // threshold nothing else in the fixture pairs (max natural pair
    // cosine ≈ 0.51), and identical vectors collide in every LSH
    // table, so both tiers must produce the same frame
    val clone = emb.filter($"vec_id" === 50)
      .select(($"vec_id" * 0 + 9001L).as("vec_id"), $"embedding")
    val clone2 = emb.filter($"vec_id" === 50)
      .select(($"vec_id" * 0 + 9002L).as("vec_id"), $"embedding")
    val corpus = emb.select("vec_id", "embedding")
      .unionByName(clone).unionByName(clone2)
    val exact = Similarity.semDedupMarks(corpus, kCentroids = 8,
      minCosine = 0.95).orderBy("vec_id")
    val gotExact = exact.select("vec_id", "keep")
      .as[(Long, Boolean)].collect().toSeq
    val dropped = gotExact.filterNot(_._2).map(_._1).toSet
    assert(dropped == Set(9001L, 9002L),
      s"only the clones drop, the original survives: $dropped")
    val lsh = Similarity.semDedupMarksLsh(corpus, kCentroids = 8,
      minCosine = 0.95).orderBy("vec_id")
    assert(lsh.collect().toSeq == exact.collect().toSeq)
  }

  test("semDedup LSH tier only under-drops vs exact (never over-drops)") {
    // at a threshold inside the natural pair tail, candidates the LSH
    // misses may stay kept, but nothing the exact tier keeps may drop
    val exactKept = Similarity.semDedupMarks(emb, kCentroids = 8,
        minCosine = 0.35).filter($"keep")
      .select("vec_id").as[Long].collect().toSet
    val lshDropped = Similarity.semDedupMarksLsh(emb, kCentroids = 8,
        minCosine = 0.35).filter(!$"keep")
      .select("vec_id").as[Long].collect().toSet
    assert(lshDropped.intersect(exactKept).isEmpty,
      s"LSH dropped rows the exact tier keeps: ${lshDropped.intersect(exactKept)}")
  }

  test("embOutliers flags vectors near-orthogonal to every centroid") {
    // centroids = 2 lowest-id vectors (axes e0, e1); id 10 hugs e0,
    // id 11 hugs e1, id 12 is orthogonal to BOTH (planted corrupt row)
    // and id 13 points AWAY from its nearest centroid
    val vecs = Seq(
      (0L, Array.tabulate(8)(i => if (i == 0) 1.0f else 0.0f)),
      (1L, Array.tabulate(8)(i => if (i == 1) 1.0f else 0.0f)),
      (10L, Array.tabulate(8)(i => if (i == 0) 1.0f else 0.01f)),
      (11L, Array.tabulate(8)(i => if (i == 1) 1.0f else 0.01f)),
      (12L, Array.tabulate(8)(i => if (i >= 2) 0.5f else 0.0f)),
      (13L, Array.tabulate(8)(i => if (i == 0) -1.0f else -0.01f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.embOutliers(vecs, k = 2, minCos = 0.1)
      .orderBy("centroid_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // vector 12: cos 0.0 to both centroids → outlier; vector 13:
    // negative cos to both → outlier; 0/1/10/11 healthy
    val flagged = got.map(_._4).sum // id sums identify the outliers
    assert(got.map(_._2).sum == 6L, s"all vectors accounted: $got")
    assert(got.map(_._3).sum == 2L, s"exactly two outliers: $got")
    assert(flagged == 12L + 13L, s"outliers are 12 and 13: $got")
    // a permissive threshold flags nothing
    assert(Similarity.embOutliers(vecs, k = 2, minCos = -1.0)
      .agg(sum("n_outliers")).head().getLong(0) == 0L)
  }

  test("embedding near-dup at high threshold finds only true pairs") {
    // construct planted near-identical vectors
    val planted = Seq(
      (100L, Array.fill(8)(1.0f)),
      (101L, Array.fill(8)(1.0f).updated(0, 0.99f)),
      (102L, Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupCosine(planted, minCosine = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((100L, 101L)))
  }

  test("semanticContamination flags the planted eval copy, not the orthogonal row") {
    // eval = e0 axis; corpus has an exact copy (200), a near-copy
    // (201), an orthogonal row (202) and an antipodal row (203)
    val eval = Seq((0L, Array.tabulate(8)(i => if (i == 0) 1.0f else 0.0f)))
      .toDF("eval_id", "eval_vec")
    val corpus = Seq(
      (200L, Array.tabulate(8)(i => if (i == 0) 1.0f else 0.0f)),
      (201L, Array.tabulate(8)(i => if (i == 0) 1.0f else 0.01f)),
      (202L, Array.tabulate(8)(i => if (i == 1) 1.0f else 0.0f)),
      (203L, Array.tabulate(8)(i => if (i == 0) -1.0f else 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.semanticContamination(corpus, eval, minCosine = 0.9)
      .as[(Long, Double, Boolean)].collect().toSeq.sortBy(_._1)
    assert(got.map(_._1) == Seq(200L, 201L, 202L, 203L))
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(200L)._2 == 1.0 && byId(200L)._3, s"exact copy flags: $got")
    assert(byId(201L)._3, s"near copy (cos≈0.9997) flags: $got")
    assert(byId(202L)._2 == 0.0 && !byId(202L)._3, s"orthogonal clean: $got")
    assert(byId(203L)._2 == -1.0 && !byId(203L)._3, s"antipodal clean: $got")

    // act step removes exactly the flagged rows
    val kept = Similarity.semanticDecontaminate(corpus, eval, minCosine = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(202L, 203L), s"decontaminate keeps the clean rows: $kept")
  }

  test("semanticContamination is threshold-monotone and empty-eval safe") {
    val eval = Seq((0L, Array.tabulate(4)(i => if (i == 0) 1.0f else 0.0f)))
      .toDF("eval_id", "eval_vec")
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.8f, 0.6f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val strict = Similarity.semanticContamination(corpus, eval, 0.99)
      .filter($"contaminated").count()
    val loose = Similarity.semanticContamination(corpus, eval, 0.5)
      .filter($"contaminated").count()
    assert(strict == 1L && loose == 2L, s"monotone: $strict / $loose")
    // an empty eval set flags nothing and keeps everything
    val kept = Similarity.semanticDecontaminate(
      corpus, eval.filter($"eval_id" < 0), minCosine = 0.5).count()
    assert(kept == 2L)
  }

  test("ivfKnnJoin: probing every list degrades to the exact knnJoin") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val queries = emb.filter($"vec_id".isin(1L, 3L, 5L))
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val exact = Similarity.knnJoin(queries, emb, k = 10)
      .select("q_id", "vec_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq.sorted
    val ivfAll = Similarity.ivfKnnJoin(queries, emb, k = 10,
      nlist = 4, iters = 2, nprobe = 4)
      .select("q_id", "vec_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq.sorted
    assert(ivfAll == exact, s"ivf=$ivfAll\nexact=$exact")
    // pruned probing returns ≤ k rows per query, all from the exact
    // candidate space (cos values match the exact join's on shared ids)
    val pruned = Similarity.ivfKnnJoin(queries, emb, k = 10,
      nlist = 4, iters = 2, nprobe = 1)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSeq
    assert(pruned.nonEmpty && pruned.groupBy(_._1).forall(_._2.size <= 10))
  }

  test("clusterPurity: hand case with a majority tie to the lower label") {
    // two orthogonal directions → 2 clean clusters at k=2 (init =
    // vectors 0 and 1, one Lloyd round keeps them apart)
    val embs = Seq(
      (0L, Array(1.0f, 0.0f), 5),
      (1L, Array(0.0f, 1.0f), 7),
      (2L, Array(0.9f, 0.1f), 5),
      (3L, Array(0.8f, 0.2f), 3),  // cluster 0: labels 5,5,3,3 → tie
      (4L, Array(0.1f, 0.9f), 7),
      (5L, Array(0.85f, 0.15f), 3)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.clusterPurity(embs, k = 2, iters = 1)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    // cluster 0 = {0,2,3,5}: two 5s, two 3s → majority tie → LOWER
    // label 3 wins; cluster 1 = {1,4}: pure 7
    assert(got == Seq(
      (0L, 4L, 3L, 2L, 0.5),
      (1L, 2L, 7L, 2L, 1.0)), got.toString)
  }
}
