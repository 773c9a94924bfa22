package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{Bm25Index, Retrieval, Similarity, TextAnalysis,
  VectorLeg}

/** Hybrid retrieval ([[pipeline.Retrieval]]): the RRF fusion must be
  * integer-exact and order-deterministic, and the indexed serving path
  * must equal the index-free baseline whenever its indexes are exact
  * (full-probe IVF, lossless posting index). */
class RetrievalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val qTerms = Seq("alpha", "gamma", "epsilon")

  private def corpus(n: Int) = {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta")
    (0 until n).map { i =>
      val words = (0 to (i % 9) + 2).map { j =>
        vocab(((i * 2654435761L + j * 40503L) % vocab.size).toInt.abs)
      }
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def embeddings(n: Int) =
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (((i * 31 + d * 13) % 100) / 50.0f) - 1f))
    }.toDF("vec_id", "embedding")

  test("rrfFuse: integer-exact reciprocal-rank sums, both-leg docs " +
      "dominate, ties broken by doc_id") {
    val lex = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("doc_id", "rank")
    val vec = Seq((2L, 1L), (4L, 2L), (3L, 3L)).toDF("doc_id", "rank")
    val out = Retrieval.rrfFuse(Seq(lex, vec), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 2: 1000000/62 + 1000000/61 = 16129 + 16393 = 32522 (2 legs)
    // doc 3: 1000000/63 + 1000000/63 = 15873 * 2     = 31746 (2 legs)
    // doc 1: 1000000/61                              = 16393 (1 leg)
    // doc 4: 1000000/62                              = 16129 (1 leg)
    assert(out.toSeq === Seq((2L, 32522L, 2L), (3L, 31746L, 2L),
      (1L, 16393L, 1L), (4L, 16129L, 1L)))
  }

  test("rrfFuse: per-leg ppm weights scale each leg's contribution " +
      "exactly; default weights reproduce the unweighted fuse") {
    val lex = Seq((1L, 1L), (2L, 2L)).toDF("doc_id", "rank")
    val vec = Seq((2L, 1L), (3L, 1L)).toDF("doc_id", "rank")
    val out = Retrieval.rrfFuse(Seq(lex, vec), k = 10,
      weights = Seq(1500000L, 500000L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // doc 1: 1500000/61 = 24590; doc 2: 1500000/62 + 500000/61
    //       = 24193 + 8196 = 32389; doc 3: 500000/61 = 8196
    assert(out === Seq((2L, 32389L), (1L, 24590L), (3L, 8196L)))
    val unweighted = Retrieval.rrfFuse(Seq(lex, vec), k = 10)
      .collect().map(_.toSeq).toSeq
    val defaulted = Retrieval.rrfFuse(Seq(lex, vec), k = 10,
      weights = Seq(1000000L, 1000000L)).collect().map(_.toSeq).toSeq
    assert(defaulted === unweighted)
  }

  test("rrfFuse: equal-score ties order by doc_id ascending and k caps " +
      "the fused list") {
    val a = Seq((7L, 1L), (5L, 2L)).toDF("doc_id", "rank")
    val b = Seq((9L, 1L), (6L, 2L)).toDF("doc_id", "rank")
    val out = Retrieval.rrfFuse(Seq(a, b), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // ranks 1 and 1 tie at 16393 → doc_id order 7, 9; k=3 drops doc 6
    assert(out.toSeq === Seq((7L, 16393L), (9L, 16393L), (5L, 16129L)))
  }

  test("hybridTopK: fusion contains docs from either leg; a doc " +
      "surfaced by both legs carries n_legs=2") {
    val docs = corpus(60)
    val emb = embeddings(60)
    val out = Retrieval.hybridTopK(docs, emb, col("doc_id"), col("text"),
      qTerms, qid = 0L, k = 10, legK = 15).collect()
    assert(out.length === 10)
    val lexIds = TextAnalysis.bm25TopK(docs, col("doc_id"), col("text"),
      qTerms, 15).collect().map(_.getLong(0)).toSet
    val vecIds = Similarity.bruteForceTopK(
      emb.where(col("vec_id") === 0L), emb, 15)
      .collect().map(_.getLong(1)).toSet
    out.foreach { r =>
      val id = r.getLong(0)
      val expectedLegs =
        (if (lexIds(id)) 1 else 0) + (if (vecIds(id)) 1 else 0)
      assert(r.getLong(2) === expectedLegs.toLong,
        s"doc $id n_legs=${r.getLong(2)} but legs=$expectedLegs")
      assert(expectedLegs > 0, s"doc $id in neither leg")
    }
    // fused order is rrf desc then doc_id
    val scores = out.map(r => (r.getLong(1), r.getLong(0)))
    assert(scores.sortBy(s => (-s._1, s._2)).toSeq === scores.toSeq)
  }

  test("searchBatch: a query scored inside a batch equals the same " +
      "query scored alone (global df; one index pass)") {
    val docs = corpus(70)
    val (postings, stats) = Bm25Index.build(docs, col("doc_id"),
      col("text"), 16)
    val batch = Seq(7L -> Seq("alpha", "gamma"),
      9L -> Seq("epsilon", "zeta"), 11L -> Seq("beta"))
    val batched = Bm25Index.searchBatch(postings, stats, batch, 10, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    for ((qid, terms) <- batch) {
      val alone = Bm25Index.search(postings, stats, terms, 10, 16)
        .collect().zipWithIndex.map { case (r, i) =>
          (qid, r.getLong(0), r.getLong(1), i + 1L) }
      assert(batched(qid).sortBy(_._4).toSeq === alone.toSeq,
        s"qid $qid scored differently in the batch")
    }
  }

  test("rrfFuseByQuery: fusion is independent per qid with the same " +
      "integer-exact arithmetic as the single-query fuse") {
    val lex = Seq((0L, 1L, 1L), (0L, 2L, 2L), (1L, 9L, 1L))
      .toDF("qid", "doc_id", "rank")
    val vec = Seq((0L, 2L, 1L), (1L, 8L, 1L), (1L, 9L, 2L))
      .toDF("qid", "doc_id", "rank")
    val out = Retrieval.rrfFuseByQuery(Seq(lex, vec), k = 10)
      .orderBy("qid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // qid 0: doc 2 = 16129+16393 = 32522 (2 legs), doc 1 = 16393
    // qid 1: doc 9 = 16393+16129 = 32522 (2 legs), doc 8 = 16393
    assert(out.toSeq === Seq(
      (0L, 2L, 32522L, 2L), (0L, 1L, 16393L, 1L),
      (1L, 9L, 32522L, 2L), (1L, 8L, 16393L, 1L)))
  }

  test("hybridTopKBatch with a single query equals hybridTopKIndexed " +
      "on the same indexes") {
    val docs = corpus(80)
    val emb = embeddings(80)
    val cents = Similarity.centroids(emb, 8)
    val index = Similarity.ivfAssign(emb, cents)
    val (postings, stats) = Bm25Index.build(docs, col("doc_id"),
      col("text"), 16)
    val single = Retrieval.hybridTopKIndexed(postings, stats, 16,
      index, cents, emb.where(col("vec_id") === 2L), qTerms,
      k = 10, legK = 12, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val batched = Retrieval.hybridTopKBatch(postings, stats, 16,
      index, cents, emb.where(col("vec_id") === 2L),
      Seq(2L -> qTerms), k = 10, legK = 12, nprobe = 4)
      .orderBy("rank")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(batched.toSeq === single.toSeq)
  }

  test("hybridTopKIndexed with exact indexes (full-probe IVF) equals " +
      "the index-free hybrid") {
    val docs = corpus(80)
    val emb = embeddings(80)
    val baseline = Retrieval.hybridTopK(docs, emb, col("doc_id"),
      col("text"), qTerms, qid = 0L, k = 10, legK = 12)
      .collect().map(_.toSeq).toSeq
    val cents = Similarity.centroids(emb, 8)
    val index = Similarity.ivfAssign(emb, cents)
    val (postings, stats) = Bm25Index.build(docs, col("doc_id"),
      col("text"), 16)
    val served = Retrieval.hybridTopKIndexed(postings, stats, 16,
      index, cents, emb.where(col("vec_id") === 0L), qTerms,
      k = 10, legK = 12, nprobe = 8) // nprobe = nlist → exact
      .collect().map(_.toSeq).toSeq
    assert(served === baseline)
  }

  test("weighted batched fusion: hybridTopKBatch with per-leg weights " +
      "equals the per-query weighted fuse for every qid in the batch") {
    val docs = corpus(80)
    val emb = embeddings(80)
    val cents = Similarity.centroids(emb, 8)
    val index = Similarity.ivfAssign(emb, cents)
    val (postings, stats) = Bm25Index.build(docs, col("doc_id"),
      col("text"), 16)
    val w = Seq(1500000L, 500000L)
    val batch = Seq(1L -> Seq("alpha", "gamma"),
      2L -> Seq("epsilon", "zeta"), 4L -> qTerms)
    val batched = Retrieval.hybridTopKBatch(postings, stats, 16,
      index, cents, emb.where(col("vec_id").isin(1L, 2L, 4L)),
      batch, k = 10, legK = 12, nprobe = 4, weights = w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).groupBy(_._1)
    for ((qid, terms) <- batch) {
      // the per-query weighted path: each leg ranked alone, rrfFuse
      // with the same weights
      val lex = Retrieval.rankLex(
        Bm25Index.search(postings, stats, terms, 12, 16))
      val vec = Similarity.ivfTopKIndexed(
        emb.where(col("vec_id") === qid), index, cents, 12, 4)
        .select(col("nid").as("doc_id"), col("rank"))
      val alone = Retrieval.rrfFuse(Seq(lex, vec), k = 10, weights = w)
        .collect().zipWithIndex.map { case (r, i) =>
          (qid, r.getLong(0), r.getLong(1), r.getLong(2), i + 1L) }
      assert(batched(qid).sortBy(_._5).toSeq === alone.toSeq,
        s"qid $qid fused differently in the weighted batch")
    }
  }

  test("single-query entry points refuse a multi-query frame instead " +
      "of silently interleaving ranks") {
    val docs = corpus(40)
    val emb = embeddings(40)
    val cents = Similarity.centroids(emb, 8)
    val index = Similarity.ivfAssign(emb, cents)
    val (postings, stats) = Bm25Index.build(docs, col("doc_id"),
      col("text"), 16)
    val e = intercept[IllegalArgumentException] {
      Retrieval.hybridTopKIndexed(postings, stats, 16, index, cents,
        emb.where(col("vec_id") < 3), qTerms, k = 10)
    }
    assert(e.getMessage.contains("hybridTopKBatch"),
      s"guard message should point at the batched variant: " +
        e.getMessage)
  }

  test("searchBatch refuses an empty batch and all-empty term lists " +
      "with a descriptive error, not reduceLeft's") {
    val docs = corpus(30)
    val (postings, stats) = Bm25Index.build(docs, col("doc_id"),
      col("text"), 16)
    val e1 = intercept[IllegalArgumentException](
      Bm25Index.searchBatch(postings, stats, Nil, 5, 16))
    assert(e1.getMessage.contains("at least one query"))
    val e2 = intercept[IllegalArgumentException](
      Bm25Index.searchBatch(postings, stats,
        Seq(1L -> Nil, 2L -> Nil), 5, 16))
    assert(e2.getMessage.contains("term"))
  }

  test("searchFiltered: global scoring (allowed=all ≡ search), results " +
      "confined to the slice, and the mask lands BEFORE the top-k " +
      "limit (filtered k-th result can rank past unfiltered k)") {
    val docs = corpus(90)
    val (postings, stats) = Bm25Index.build(docs, col("doc_id"),
      col("text"), 16)
    val all = docs.select("doc_id")
    val full = Bm25Index.search(postings, stats, qTerms, 10, 16)
      .collect().map(_.toSeq).toSeq
    val maskedAll = Bm25Index.searchFiltered(postings, stats, qTerms,
      10, 16, all).collect().map(_.toSeq).toSeq
    assert(maskedAll === full, "allowed=everything changed the answer")
    val allowed = docs.where(col("doc_id") % 3 === 0).select("doc_id")
    val sliced = Bm25Index.searchFiltered(postings, stats, qTerms, 10,
      16, allowed).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sliced.forall(_._1 % 3 == 0), "mask leaked a disallowed doc")
    // mask-before-limit: the slice's top-10 equals the UNFILTERED
    // ranking restricted to the slice — docs past the unfiltered k
    // must surface (the post-limit-filter bug would under-fill)
    val bigK = Bm25Index.search(postings, stats, qTerms, 90, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(_._1 % 3 == 0).take(10)
    assert(sliced.toSeq === bigK.toSeq,
      "filtered top-k diverged from rank-then-slice semantics")
    // a doc's score is identical masked or not (global df/stats)
    val fullMap = Bm25Index.search(postings, stats, qTerms, 90, 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sliced.forall { case (id, s) => fullMap(id) == s },
      "the mask changed a doc's score — df/stats must stay global")
  }

  test("evalMetrics: integer-exact recall/MRR/AP per query; zero-hit " +
      "queries retained with zeros; macro averages exact") {
    val results = Seq((1L, 10L, 1L), (1L, 20L, 2L), (1L, 30L, 3L),
      (1L, 40L, 4L), (1L, 50L, 5L)).toDF("qid", "doc_id", "rank")
    val qrels = Seq((1L, 20L), (1L, 40L), (1L, 99L), (2L, 7L))
      .toDF("qid", "doc_id")
    val out = Retrieval.evalMetrics(results, qrels, 5).orderBy("qid")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // qid 1: n_rel 3, hits at ranks 2 and 4 → recall 2e6 div 3 =
    // 666666, mrr 1e6 div 2 = 500000, ap = (1·1e6 div 2 +
    // 2·1e6 div 4) div 3 = 1000000 div 3 = 333333
    // qid 2: relevant doc never retrieved — retained, all zeros
    assert(out.toSeq === Seq(
      (1L, 3L, 2L, 666666L, 500000L, 333333L),
      (2L, 1L, 0L, 0L, 0L, 0L)))
    val m = Retrieval.evalMacro(
      Retrieval.evalMetrics(results, qrels, 5)).collect().head
    assert((m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3))
      === ((2L, 333333L, 250000L, 166666L)))
    // the k bound is respected: at k=3 the rank-4 hit drops out
    val k3 = Retrieval.evalMetrics(results, qrels, 3)
      .where(col("qid") === 1L).collect().head
    assert(k3.getLong(2) === 1L &&
      k3.getLong(5) === 166666L) // (1e6 div 2) div 3
  }

  test("evalSweep: one row per variant, each equal to the hand-composed " +
      "fuse+eval of the same legs, ranked by macro MAP with variant_id " +
      "tiebreak") {
    val lex = Seq((1L, 10L, 1L), (1L, 20L, 2L), (1L, 30L, 3L),
      (2L, 40L, 1L), (2L, 50L, 2L)).toDF("qid", "doc_id", "rank")
    val vec = Seq((1L, 20L, 1L), (1L, 60L, 2L),
      (2L, 50L, 1L), (2L, 70L, 2L)).toDF("qid", "doc_id", "rank")
    val qrels = Seq((1L, 20L), (1L, 60L), (2L, 40L), (2L, 99L))
      .toDF("qid", "doc_id")
    val variants = Seq(
      (1L, (1000000L, 1000000L), 60),
      (2L, (2000000L, 100000L), 60),
      (3L, (1000000L, 1000000L), 5))
    val out = Retrieval.evalSweep(lex, vec, variants, k = 4, qrels,
      evalK = 4).collect()
    assert(out.length === 3)
    // every variant row equals the hand-composed pipeline
    val byVid = out.map(r => r.getLong(0) -> r).toMap
    for ((vid, (wl, wv), k0) <- variants) {
      val fused = Retrieval.rrfFuseByQuery(Seq(lex, vec), 4, k0,
        Seq(wl, wv))
      val mac = Retrieval.evalMacro(Retrieval.evalMetrics(
        fused.select(col("qid"), col("doc_id"), col("rank")),
        qrels, 4)).collect().head
      val row = byVid(vid)
      assert((row.getLong(4), row.getLong(5), row.getLong(6),
        row.getLong(7)) ===
        ((mac.getLong(0), mac.getLong(1), mac.getLong(2),
          mac.getLong(3))), s"variant $vid drifted from the " +
        "hand-composed fuse+eval")
      assert((row.getLong(1), row.getLong(2), row.getLong(3)) ===
        ((wl, wv, k0.toLong)))
    }
    // ordering: macro_map desc, then variant_id asc on ties
    val maps = out.map(r => (r.getLong(7), r.getLong(0)))
    assert(maps.sortBy { case (m, v) => (-m, v) }.toSeq === maps.toSeq,
      s"sweep output not ranked best-first: ${maps.toSeq}")
    // the weight knob must actually move the metric somewhere in the
    // grid (a constant sweep would pass the equality vacuously)
    assert(out.map(_.getLong(7)).distinct.length > 1,
      "all variants scored identically — fixture too degenerate")
  }

  test("annRecallSweep: one row per nprobe, recall non-decreasing in " +
      "nprobe, and the full-probe row is exactly (1e6, 1e6, 1e6) — " +
      "the pruned probe at nprobe = nlist IS the exact ranking") {
    val emb = embeddings(90)
    val q = emb.where(col("vec_id") < 4)
    val cents = Similarity.centroids(emb, 8)
    val index = Similarity.ivfAssign(emb, cents)
    val exact = Similarity.bruteForceTopK(q, emb, 5)
      .select(col("qid"), col("nid"))
    val out = Retrieval.annRecallSweep(q, Seq("nprobe"),
      Seq(1, 2, 4, 8).map(np =>
        Seq(np.toLong) -> VectorLeg.Ivf(index, cents, np)), 5, exact)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 4L, 8L))
    assert(out.forall(_._2 === 4L), "a variant dropped a query")
    // recall is monotone in nprobe (more probed cells can only add
    // candidates, never remove them)
    val recalls = out.map(_._3)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall not monotone in nprobe: ${recalls.toSeq}")
    // nprobe = nlist probes every cell → the IVF ranking equals brute
    // force exactly (same tie-break), so every macro metric is 1e6
    assert(out.last === ((8L, 4L, 1000000L, 1000000L, 1000000L)),
      s"full-probe row not exact: ${out.last}")
    // and each variant row equals the hand-composed probe + eval
    for (np <- Seq(1, 2, 4)) {
      val res = VectorLeg.Ivf(index, cents, np).batch(q, 5)
        .select(col("qid"), col("nid").as("doc_id"), col("rank"))
      val mac = Retrieval.evalMacro(Retrieval.evalMetrics(res,
        exact.select(col("qid"), col("nid").as("doc_id")), 5))
        .collect().head
      val row = out.find(_._1 == np).get
      assert((row._2, row._3, row._4, row._5) ===
        ((mac.getLong(0), mac.getLong(1), mac.getLong(2),
          mac.getLong(3))), s"nprobe $np drifted from hand-composed")
    }
  }

  test("FILTERED BATCH tier: hybridTopKBatch with an allowed mask " +
      "equals hybridTopKIndexedFiltered per qid, and " +
      "searchBatchFiltered equals searchFiltered per qid") {
    val docs = corpus(90)
    val emb = embeddings(90)
    val cents = Similarity.centroids(emb, 8)
    val index = Similarity.ivfAssign(emb, cents)
    val (postings, stats) = Bm25Index.build(docs, col("doc_id"),
      col("text"), 16)
    val allowed = docs.where(col("doc_id") % 3 === 0).select("doc_id")
    val batch = Seq(1L -> Seq("alpha", "gamma"),
      2L -> Seq("epsilon", "zeta"), 4L -> qTerms)
    // lexical leg: batched-filtered ≡ filtered alone, per qid
    val lexBatched = Bm25Index.searchBatchFiltered(postings, stats,
      batch, 10, 16, allowed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).groupBy(_._1)
    for ((qid, terms) <- batch) {
      val alone = Bm25Index.searchFiltered(postings, stats, terms, 10,
        16, allowed).collect().zipWithIndex.map { case (r, i) =>
          (qid, r.getLong(0), r.getLong(1), i + 1L) }
      assert(lexBatched(qid).sortBy(_._4).toSeq === alone.toSeq,
        s"qid $qid scored differently batched-filtered vs alone")
    }
    // full hybrid facade: batched-filtered ≡ the single-query filtered
    // entry point, per qid
    val fusedBatched = Retrieval.hybridTopKBatch(postings, stats, 16,
      index, cents, emb.where(col("vec_id").isin(1L, 2L, 4L)), batch,
      k = 10, legK = 12, nprobe = 4, allowed = Some(allowed))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).groupBy(_._1)
    for ((qid, terms) <- batch) {
      val alone = Retrieval.hybridTopKIndexedFiltered(postings, stats,
        16, index, cents, emb.where(col("vec_id") === qid), terms,
        allowed, k = 10, legK = 12, nprobe = 4)
        .collect().zipWithIndex.map { case (r, i) =>
          (qid, r.getLong(0), r.getLong(1), r.getLong(2), i + 1L) }
      assert(fusedBatched(qid).sortBy(_._5).toSeq === alone.toSeq,
        s"qid $qid fused differently batched-filtered vs alone")
      assert(alone.forall(_._2 % 3 == 0),
        s"qid $qid leaked a disallowed doc")
    }
    // and an allowed=everything mask is a no-op against the unfiltered
    // batch facade (global scoring preserved end to end)
    val unmasked = Retrieval.hybridTopKBatch(postings, stats, 16,
      index, cents, emb.where(col("vec_id").isin(1L, 2L, 4L)), batch,
      k = 10, legK = 12, nprobe = 4)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    val maskedAll = Retrieval.hybridTopKBatch(postings, stats, 16,
      index, cents, emb.where(col("vec_id").isin(1L, 2L, 4L)), batch,
      k = 10, legK = 12, nprobe = 4,
      allowed = Some(docs.select("doc_id")))
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    assert(maskedAll === unmasked,
      "allowed=everything changed the batched answer")
  }

  test("hybridTopKIndexedFiltered: fused results confined to the " +
      "slice; exact-probe filtered hybrid ≡ fusing legs built from " +
      "only the allowed corpus under global lexical scoring") {
    val docs = corpus(80)
    val emb = embeddings(80)
    val cents = Similarity.centroids(emb, 8)
    val index = Similarity.ivfAssign(emb, cents)
    val (postings, stats) = Bm25Index.build(docs, col("doc_id"),
      col("text"), 16)
    val allowed = docs.where(col("doc_id") % 3 === 0).select("doc_id")
    val out = Retrieval.hybridTopKIndexedFiltered(postings, stats, 16,
      index, cents, emb.where(col("vec_id") === 0L), qTerms, allowed,
      k = 10, legK = 12, nprobe = 8) // full probe → vector leg exact
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty && out.forall(_._1 % 3 == 0),
      s"filtered hybrid leaked disallowed docs: ${out.toSeq}")
    // reference: lexical leg = global scores ranked over the slice;
    // vector leg = brute-force cosine over only the allowed vectors
    val lexRef = Retrieval.rankLex(Bm25Index.searchFiltered(
      postings, stats, qTerms, 12, 16, allowed))
    val vecRef = Similarity.bruteForceTopK(
      emb.where(col("vec_id") === 0L),
      emb.join(allowed.select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_semi"), 12)
      .select(col("nid").as("doc_id"), col("rank"))
    val ref = Retrieval.rrfFuse(Seq(lexRef, vecRef), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === ref.toSeq)
  }
}
