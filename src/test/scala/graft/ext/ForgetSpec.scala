package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Deletion/takedown propagation: every cascade path must satisfy
  * retract-then-query ≡ rebuild-from-scratch on the retained corpus.
  */
class ForgetSpec extends SparkTestBase {
  import spark.implicits._

  private def pairs(ps: (Long, Long)*) = ps.toDF("id1", "id2")
  private def ids(is: Long*) = is.toDF("id")

  // ---- component labels ------------------------------------------------

  test("deleting a bridge member SPLITS the stored component") {
    // 1—2—3—4—5 one component rooted at 1; deleting 3 must yield
    // {1,2} and {4,5} — the star-edge label table alone cannot know
    // this, only the pair list can
    val ps = pairs(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
    val stored = DedupClusters.connectedComponents(ps)
    val out = Forget.retractComponents(stored, ps, ids(3L))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(out == Seq(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("deleting the root re-canonicalizes survivors to the new minimum") {
    val ps = pairs(1L -> 2L, 2L -> 3L)
    val stored = DedupClusters.connectedComponents(ps)
    val out = Forget.retractComponents(stored, ps, ids(1L))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(out == Seq(2L -> 2L, 3L -> 2L))
  }

  test("a survivor whose every pair died becomes a singleton; untouched components pass through") {
    // component A: 1—2 (2 deleted → 1 is a pairless singleton);
    // component B: 10—11—12 untouched
    val ps = pairs(1L -> 2L, 10L -> 11L, 11L -> 12L)
    val stored = DedupClusters.connectedComponents(ps)
    val out = Forget.retractComponents(stored, ps, ids(2L))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(out == Seq(1L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("retractComponents ≡ connectedComponents over surviving pairs + survivor singletons (random graph)") {
    // deterministic pseudo-random pair list: edges (h(i) % 40, h(i+1) % 40)
    val es = (0 until 120).map { i =>
      def h(x: Int): Long = math.abs((x * 2654435761L + 97) % 40)
      (h(i), h(i + 7))
    }.filter { case (a, b) => a != b }
    val ps = pairs(es: _*)
    val deleted = ids(3L, 8L, 15L, 22L, 39L)
    val stored = DedupClusters.connectedComponents(ps)
    val retracted = Forget.retractComponents(stored, ps, deleted)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    // rebuild comparator: pairs with both endpoints retained, plus a
    // self-pair per retained node so pairless survivors appear
    val delSet = Set(3L, 8L, 15L, 22L, 39L)
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.filterNot(delSet)
    val surviving = es.filter(e => !delSet(e._1) && !delSet(e._2))
    val rebuilt = DedupClusters.connectedComponents(
      pairs(surviving ++ nodes.map(n => (n, n)): _*))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(retracted == rebuilt)
  }

  test("retractComponents relabels only the components that lost a member") {
    // component B is stored under a label connectedComponents never
    // produces (99, not its min id): recomputed, it would come back as 10
    val ps = pairs(1L -> 2L, 2L -> 3L, 10L -> 11L, 11L -> 12L)
    val stored = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 99L, 11L -> 99L, 12L -> 99L)
      .toDF("id", "component")
    val out = Forget.retractComponents(stored, ps, ids(1L))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(out == Seq(2L -> 2L, 3L -> 2L, 10L -> 99L, 11L -> 99L, 12L -> 99L))
  }

  test("empty delete set is the identity on labels") {
    val ps = pairs(1L -> 2L, 2L -> 3L, 7L -> 8L)
    val stored = DedupClusters.connectedComponents(ps)
    val out = Forget.retractComponents(stored, ps, ids())
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(out == stored.orderBy("id").as[(Long, Long)].collect().toSeq)
  }

  // ---- digest state ----------------------------------------------------

  test("retractDigests ≡ digestCounts of the retained corpus; zero-count digests leave") {
    val docs = Seq(
      (1L, "alpha"), (2L, "alpha"), (3L, "beta"),
      (4L, "gamma"), (5L, "gamma"), (6L, "gamma"), (7L, "delta"))
      .toDF("doc_id", "text")
    val state = Forget.digestCounts(docs, col("text"))
    val deleted = docs.filter($"doc_id".isin(2L, 3L, 4L, 5L, 6L))
    val retracted = Forget.retractDigests(state, deleted, col("text"))
      .orderBy("digest").as[(String, Long)].collect().toSeq
    val rebuilt = Forget.digestCounts(
        docs.filter(!$"doc_id".isin(2L, 3L, 4L, 5L, 6L)), col("text"))
      .orderBy("digest").as[(String, Long)].collect().toSeq
    assert(retracted == rebuilt)
    // beta and gamma hit zero and must be GONE (not present with n=0)
    assert(retracted.size == 2 && retracted.forall(_._2 == 1L))
  }

  test("replaying a takedown whose digests fully left the state is a no-op, and a retracted digest readmits the content") {
    val docs = Seq((1L, "only"), (2L, "kept")).toDF("doc_id", "text")
    val state = Forget.digestCounts(docs, col("text"))
    val deleted = docs.filter($"doc_id" === 1L)
    val once = Forget.retractDigests(state, deleted, col("text"))
    val twice = Forget.retractDigests(once, deleted, col("text"))
    assert(once.orderBy("digest").collect().toSeq ==
      twice.orderBy("digest").collect().toSeq)
    // the admission screen built on the retracted state re-admits the
    // deleted content — the whole point of the cascade: a takedown must
    // not permanently poison re-ingestion of licensed copies
    val incoming = Seq((9L, "only")).toDF("doc_id", "text")
    val screened = incoming.withColumn("__h", ExactDedup.contentDigest(col("text")))
      .join(Forget.toDigestTable(once).withColumnRenamed("digest", "__h"),
        Seq("__h"), "left_anti")
    assert(screened.count() == 1, "retracted digest must not block re-ingestion")
  }

  // ---- packed-sequence manifest ---------------------------------------

  test("retractPacking ≡ repack-from-scratch on the retained corpus; empty delete set is the identity") {
    val docs = (0L until 400L).map(i => (i, 5L + i % 37)).toDF("doc_id", "n_tokens")
    val stored = Packing.packByBudget(docs, $"doc_id", $"n_tokens", 64L, "s")
    val delSet = Seq(3L, 77L, 123L)
    val retracted = Forget.retractPacking(stored, docs, "doc_id", "n_tokens",
        ids(delSet: _*), 64L, "s")
      .orderBy("bucket", "pack_pos").collect().toSeq
    val rebuilt = Packing.packByBudget(docs.filter(!$"doc_id".isin(delSet: _*)),
        $"doc_id", $"n_tokens", 64L, "s")
      .orderBy("bucket", "pack_pos").collect().toSeq
    assert(retracted == rebuilt)
    assert(retracted.size == 397)
    val same = Forget.retractPacking(stored, docs, "doc_id", "n_tokens", ids(), 64L, "s")
      .orderBy("bucket", "pack_pos").collect().toSeq
    assert(same == stored.orderBy("bucket", "pack_pos").collect().toSeq)
  }

  // ---- signature + IVF state ------------------------------------------

  test("retractSignatures: incrementalNearDup against retracted state never surfaces a deleted doc") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different content with no overlap at all here"))
      .toDF("doc_id", "text")
    val sigs = MinHashLsh.portableSignatures(corpus, $"doc_id", $"text", n = 3, k = 8)
    val retracted = Forget.retractSignatures(sigs, "id", ids(2L))
    assert(retracted.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    val newBatch = Seq((10L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val hits = MinHashLsh.incrementalNearDup(newBatch, $"doc_id", $"text",
      retracted, n = 3, k = 8, bands = 4, threshold = 0.5)
    val partners = hits.select("corpus_id").as[Long].collect().toSet
    assert(partners == Set(1L), s"deleted doc resurfaced: $partners")
  }

  test("retractIvf drops deleted assignments, keeps the cell layout, and probe results match a filtered-corpus probe") {
    val dim = 4
    val corpus = (0L until 40L).map { i =>
      (i, Array.tabulate(dim)(d => math.cos((i % 8) + d * 0.7).toFloat))
    }.toDF("vec_id", "embedding")
    val index = EmbeddingSearch.buildIvfIndex(corpus, "vec_id", "embedding", nlist = 4)
    val deleted = ids(5L, 6L, 7L)
    val after = Forget.retractIvf(index, deleted.withColumnRenamed("id", "vec_id"))
    assert(after.centroids.orderBy("cell").collect().toSeq ==
      index.centroids.orderBy("cell").collect().toSeq)
    assert(after.assignments.filter($"id".isin(5L, 6L, 7L)).count() == 0)
    // probing the retracted index over the retained corpus ≡ probing an
    // index whose assignments were rebuilt-filtered the manual way
    val retained = corpus.filter(!$"vec_id".isin(5L, 6L, 7L))
    val queries = corpus.filter($"vec_id" < 3L)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val viaRetract = EmbeddingSearch.ivfProbe(after, retained, "vec_id", "embedding",
      queries, "qid", "qvec", k = 3, nprobe = 4)
      .orderBy("qid", "rank").collect().toSeq
    val manual = EmbeddingSearch.IvfIndex(index.centroids,
      index.assignments.filter(!$"id".isin(5L, 6L, 7L)))
    val viaManual = EmbeddingSearch.ivfProbe(manual, retained, "vec_id", "embedding",
      queries, "qid", "qvec", k = 3, nprobe = 4)
      .orderBy("qid", "rank").collect().toSeq
    assert(viaRetract == viaManual)
  }

  test("retractPq drops deleted codes, keeps centroids AND codebook, and probes match a filtered rebuild at a LOSSY codebook") {
    val dim = 8
    val corpus = (0L until 40L).map { i =>
      (i, Array.tabulate(dim)(d => math.sin(i * 1.3 + d * 0.7).toFloat))
    }.toDF("vec_id", "embedding")
    // lossy on purpose: ksub=4 cannot represent 40 distinct vectors
    val book = VectorQuant.pqTrain(corpus, "vec_id", "embedding",
      m = 2, ksub = 4, iters = 2, dim = dim)
    val ivf = EmbeddingSearch.buildIvfIndex(corpus, "vec_id", "embedding", nlist = 4)
    val pidx = VectorQuant.quantizeIndex(ivf, corpus, "vec_id", "embedding", book)
    val deleted = ids(5L, 6L, 7L).withColumnRenamed("id", "vec_id")
    val after = Forget.retractPq(pidx, deleted)
    // serving-state hygiene: deleted ids gone, centroids + book untouched
    assert(after.assignments.filter($"id".isin(5L, 6L, 7L)).count() == 0)
    assert(after.assignments.count() == 37)
    assert(after.centroids.orderBy("cell").collect().toSeq ==
      pidx.centroids.orderBy("cell").collect().toSeq)
    assert(after.book eq pidx.book)
    val queries = corpus.filter($"vec_id" < 3L)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val viaRetract = VectorQuant.ivfProbePq(after, queries, "qid", "qvec",
      k = 3, nprobe = 4).orderBy("qid", "rank").collect().toSeq
    // filtered rebuild: re-quantize the RETAINED corpus with the same book
    val retained = corpus.filter(!$"vec_id".isin(5L, 6L, 7L))
    val manualIvf = EmbeddingSearch.IvfIndex(ivf.centroids,
      ivf.assignments.filter(!$"id".isin(5L, 6L, 7L)))
    val manual = VectorQuant.quantizeIndex(manualIvf, retained, "vec_id", "embedding", book)
    val viaManual = VectorQuant.ivfProbePq(manual, queries, "qid", "qvec",
      k = 3, nprobe = 4).orderBy("qid", "rank").collect().toSeq
    assert(viaRetract == viaManual && viaRetract.nonEmpty)
    // deleted ids never surface as neighbors
    assert(!viaRetract.exists(r => Set(5L, 6L, 7L)(r.getLong(1))))
  }

  test("retainDocs rejects multi-column delete frames and drops exactly the listed ids") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val kept = Forget.retainDocs(docs, "doc_id", ids(2L))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L))
    val bad = Seq((1L, "x")).toDF("id", "why")
    val e = intercept[IllegalArgumentException](Forget.retainDocs(docs, "doc_id", bad))
    assert(e.getMessage.contains("one column"))
  }

  // ---- non-retractable sketch state: the rebuild runbook ---------------

  test("KMV sketch: the delete target's replacement was DISCARDED (why no retract exists); rebuild from retained rows is exact and partition-invariant") {
    val rows = spark.range(1L, 101L).toDF("id")
      .select($"id", xxhash64($"id").as("h"))
    val full = rows.agg(graft.functions.KmvSketchAgg.kMinima($"h", 8).as("s"))
      .as[Array[Long]].head().toSet
    // delete the row holding the sketch's minimum hash
    val minId = rows.orderBy($"h").select($"id").as[Long].head()
    val retained = Forget.retainDocs(rows, "id", Seq(minId).toDF("id"))
    val rebuilt = retained.repartition(7)
      .agg(graft.functions.KmvSketchAgg.kMinima($"h", 8).as("s"))
      .as[Array[Long]].head().toSet
    // information loss, concretely: the retained corpus's 8th minimum
    // was NOT in the stored sketch — no bounded-state retraction could
    // have produced it, which is why the runbook says rebuild
    assert((rebuilt -- full).nonEmpty,
      "fixture must surface a replacement minimum absent from the stored sketch")
    // rebuild ≡ a sketch over a corpus that never held the deleted row,
    // at a different partitioning (merge-order invariance)
    val fresh = rows.filter($"id" =!= minId).coalesce(1)
      .agg(graft.functions.KmvSketchAgg.kMinima($"h", 8).as("s"))
      .as[Array[Long]].head().toSet
    assert(rebuilt == fresh)
  }

  test("quantile sketch: same runbook — rebuild from retained rows, partition-invariant; deleted sample slots refill from discarded data") {
    val rows = spark.range(1L, 201L).toDF("id")
      .select($"id", xxhash64($"id").as("h"), ($"id" % 37).cast("double").as("v"))
    def sketchOf(df: org.apache.spark.sql.DataFrame) =
      df.agg(graft.functions.QuantileSketchAgg.sample($"h", $"v", 8).as("s"))
        .select(to_json($"s")).as[String].head()
    val full = sketchOf(rows)
    val minId = rows.orderBy($"h").select($"id").as[Long].head()
    val retained = Forget.retainDocs(rows, "id", Seq(minId).toDF("id"))
    val rebuilt = sketchOf(retained.repartition(7))
    val fresh = sketchOf(rows.filter($"id" =!= minId).coalesce(1))
    assert(rebuilt == fresh, "rebuild must be partition-invariant and equal a never-held-it corpus")
    assert(rebuilt != full, "deleting a sampled row must change the sketch (slot refills)")
  }

  // ---- lexical index ---------------------------------------------------

  private def lexState(ix: Bm25.LexIndex) = (
    ix.postings.select(col("token"), col("df"),
        array_join(transform(col("postings"), p =>
          concat(p.getField("doc_id"), lit(":"), p.getField("tf"))), ","))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq,
    ix.docLens.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toSeq,
    ix.nDocs, ix.totalTokens)

  test("retractLexIndex ≡ buildIndex on the retained corpus; sole-posting tokens leave; replay is a no-op") {
    val docs = Seq(
      (1L, "spark data join table"),
      (2L, "window stream data spark"),
      (3L, "spark table merge"),
      (4L, "uniqueword spark data"),     // deleted: 'uniqueword' must LEAVE
      (5L, "data data window"),          // deleted: shared vocab → array filters
      (6L, "x y"),                       // deleted, token-less: N bookkeeping only
      (7L, "zz")).toDF("doc_id", "text") // retained, token-less
    val deleted = docs.filter($"doc_id".isin(4L, 5L, 6L))
    val idx = Bm25.buildIndex(docs, col("doc_id"), col("text"))
    val cut = Forget.retractLexIndex(idx, deleted, col("doc_id"), col("text"))
    val rebuilt = Bm25.buildIndex(docs.filter(!$"doc_id".isin(4L, 5L, 6L)),
      col("doc_id"), col("text"))
    assert(lexState(cut) == lexState(rebuilt))
    assert(cut.nDocs == 4L && rebuilt.nDocs == 4L, "token-less rows count in N")
    assert(!cut.postings.select($"token").as[String].collect().contains("uniqueword"))
    val replay = Forget.retractLexIndex(cut, deleted, col("doc_id"), col("text"))
    assert(lexState(replay) == lexState(cut),
      "retraction is row-identity-based: replaying a takedown batch is a no-op")
  }
}
