package graft.streaming

import graft.ext.EmbeddingSearch
import graft.ext.EmbeddingSearch.IvfIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming embedding serving: route a QUERY STREAM against a
  * persisted IVF index ([[EmbeddingSearch.buildIvfIndex]] /
  * readIvfIndex) — the continuous form of the batch
  * [[EmbeddingSearch.ivfProbe]], for pipelines that answer
  * similarity queries as they arrive.
  *
  * The whole plan is STATELESS, which is what makes it a legal,
  * watermark-free streaming query (the [[DocStream]] discipline):
  *
  *   - probe-cell selection is a PER-ROW expression: the nlist
  *     centroids are collected once at plan-build time (bounded driver
  *     state — nlist rows, the same contract as the BPE merge table)
  *     and embedded as an array literal; each query row sorts
  *     (cos desc, cell asc) in-row and slices its nprobe cells — no
  *     shuffle, no window;
  *   - candidate fetch is `nprobe` successive STREAM-STATIC left
  *     joins against the packed cell table ([[packIvfCells]]: one row
  *     per cell, members as an array) — stream-static joins keep no
  *     state; a query probing fewer cells (nlist < nprobe) null-joins
  *     and contributes an empty member set;
  *   - the top-k merge is again per-row: concatenate the probed
  *     member arrays, drop the query itself, sort by (cos desc, id
  *     asc), slice k, posexplode to ranked rows — no streaming
  *     aggregation, no state store.
  *
  * Arithmetic is the batch kernel's ordered-fold cosine on identical
  * trees, so results are ROW-IDENTICAL to [[EmbeddingSearch.ivfProbe]]
  * on the same data (pinned in StreamingSpec, state rows == 0).
  *
  * Scale: the packed table carries the corpus vectors partitioned BY
  * CELL — each micro-batch's joins touch only probed cells' rows; the
  * per-row sort is over the probed members only (cells are
  * corpus/nlist sized by construction; run [[EmbeddingSearch.ivfRebuildAdvice]]
  * on the index to keep that true). Persist the packed frame across
  * micro-batches — it is the serving index.
  */
object EmbedStream {

  /** One row per cell: `(cell, members array<struct<id,vec,nrm>>)` —
    * the corpus vectors joined to the index assignments and packed
    * per cell, with norms precomputed batch-side. STATIC serving
    * state; persist it.
    */
  def packIvfCells(index: IvfIndex, corpus: DataFrame,
                   corpusId: String, corpusVec: String): DataFrame = {
    val c = corpus.select(col(corpusId).as("__cid"), col(corpusVec).as("__cvec"))
      .withColumn("__cn", EmbeddingSearch.norm(col("__cvec")))
    c.join(index.assignments.withColumnRenamed("id", "__cid"), "__cid")
      .groupBy(col("cell"))
      .agg(collect_list(struct(col("__cid").as("id"), col("__cvec").as("vec"),
        col("__cn").as("nrm"))).as("members"))
  }

  /** [[packIvfCells]] from QUANTIZED serving state: member vectors are
    * reconstructed from the PQ codes as a per-row decode expression —
    * no corpus anywhere in the plan, which is the point (the packed
    * frame derives from the index tables alone; the full corpus stays
    * cold storage). Same `(cell, members)` schema, so the probe body
    * is shared verbatim; under the degenerate codebook the packed
    * members are bit-identical to [[packIvfCells]]'s.
    */
  def packIvfCellsPq(index: graft.ext.VectorQuant.PqIvfIndex): DataFrame = {
    val collected = graft.ext.VectorQuant.collectBook(index.book)
    index.assignments
      .withColumn("__v", graft.ext.VectorQuant.pqDecodeExpr(collected, col("codes")))
      .withColumn("__n", EmbeddingSearch.norm(col("__v")))
      .groupBy(col("cell"))
      .agg(collect_list(struct(col("id"), col("__v").as("vec"),
        col("__n").as("nrm"))).as("members"))
  }

  /** Screen a DOCUMENT STREAM for semantic contamination against a
    * static eval set as documents arrive — the streaming face of
    * [[graft.ext.Decontaminate.byEmbedding]], for pipelines that must
    * reject leaked eval material at ingest rather than in a batch
    * sweep afterwards.
    *
    * Stateless by the same construction as [[streamingIvfProbe]]: the
    * eval set (benchmark-sized by definition) is packed into ONE
    * static row of (eval_id, vec, norm) structs; each streaming row
    * picks it up through a single broadcast stream-static join on a
    * constant key, then computes its hits, argmax and count as IN-ROW
    * array expressions — no streaming aggregation, no state store.
    * Same ordered-fold cosine trees and the same (max cos, min
    * eval_id) tie-break as the batch screen, so flagged rows are
    * ROW-IDENTICAL to `byEmbedding` on the same data (pinned in
    * StreamingSpec, state rows == 0).
    *
    * @return streaming (trainId, eval_id, max_cos, n_hits) — one row
    *         per CONTAMINATED document, the batch screen's contract
    */
  def streamingDecontaminate(docStream: DataFrame, trainId: String, trainVec: String,
                             evalSet: DataFrame, evalId: String, evalVec: String,
                             tau: Double): DataFrame = {
    val packed = evalSet
      .select(col(evalId).as("__eid"), col(evalVec).as("__evec"))
      .withColumn("__en", EmbeddingSearch.norm(col("__evec")))
      .agg(collect_list(struct(col("__eid"), col("__evec"), col("__en"))).as("__evals"))
      .withColumn("__k", lit(0))
    val t = docStream.select(col(trainId).as("__tid"), col(trainVec).as("__tvec"))
      .withColumn("__tn", EmbeddingSearch.norm(col("__tvec")))
      .withColumn("__k", lit(0))
    val hits = filter(col("__evals"), e =>
      EmbeddingSearch.dot(col("__tvec"), e.getField("__evec")) /
        (col("__tn") * e.getField("__en")) >= lit(tau))
    // (cos desc, eval_id asc) argmax == ascending struct(negcos, eid)
    // — the batch screen's min(struct(...)) tie-break, in-row
    val ranked = array_sort(transform(col("__hits"), e =>
      struct((-(EmbeddingSearch.dot(col("__tvec"), e.getField("__evec")) /
        (col("__tn") * e.getField("__en")))).as("__negcos"),
        e.getField("__eid").as("__eid"))))
    t.join(broadcast(packed), Seq("__k"))
      .withColumn("__hits", hits)
      .filter(size(col("__hits")) >= 1)
      .withColumn("__best", element_at(ranked, 1))
      .select(col("__tid").as(trainId), col("__best.__eid").as("eval_id"),
        (-col("__best.__negcos")).as("max_cos"),
        size(col("__hits")).cast("long").as("n_hits"))
  }

  /** Probe-only approximate top-k for a streaming query frame.
    *
    * @param queryStream streaming DataFrame carrying (queryId, queryVec)
    * @return streaming (queryId, neighbor_id, rank, cos)
    */
  def streamingIvfProbe(index: IvfIndex, corpus: DataFrame,
                        corpusId: String, corpusVec: String,
                        queryStream: DataFrame, queryId: String, queryVec: String,
                        k: Int, nprobe: Int = 4): DataFrame = {
    // nlist rows of bounded driver state, embedded as a literal so the
    // probe choice is a pure per-row expression (cos desc, cell asc —
    // the batch ivfProbe ordering; shared with hardNegativesIvf)
    probePacked(EmbeddingSearch.collectCentroids(index),
      packIvfCells(index, corpus, corpusId, corpusVec),
      queryStream, queryId, queryVec, k, nprobe)
  }

  /** [[streamingIvfProbe]] served ENTIRELY from quantized state: the
    * probe routing, candidate fetch, and rerank all run against
    * PQ-reconstructed members ([[packIvfCellsPq]]) — the streaming
    * face of [[graft.ext.VectorQuant.ivfProbePq]]. Same statelessness,
    * same plan shape; with the degenerate codebook the output is
    * row-identical to [[streamingIvfProbe]] (pinned in StreamingSpec).
    */
  def streamingIvfProbePq(index: graft.ext.VectorQuant.PqIvfIndex,
                          queryStream: DataFrame, queryId: String, queryVec: String,
                          k: Int, nprobe: Int = 4): DataFrame =
    probePacked(
      EmbeddingSearch.collectCentroids(IvfIndex(index.centroids, index.assignments)),
      packIvfCellsPq(index),
      queryStream, queryId, queryVec, k, nprobe)

  /** Admit an EMBEDDING STREAM into quantized IVF serving state: each
    * arriving vector gets its cell (nearest centroid — the
    * [[EmbeddingSearch.buildIvfIndex]] assignment rule, cosine with
    * cell-id tie-break) and its PQ codes, both as PURE per-row
    * expressions over driver-state literals
    * ([[EmbeddingSearch.probeCellsExpr]] with nprobe = 1 and
    * [[graft.ext.VectorQuant.pqEncodeExpr]]) — fully stateless, no
    * join, no aggregation, no state store. The output rows are in the
    * exact (id, cell, codes) schema of
    * [[graft.ext.VectorQuant.PqIvfIndex.assignments]]: append them to
    * the persisted state on the batch cadence (the [[graft.ext.ExactDedup]]
    * admitNew fold-back pattern) and the new vectors become probe-able
    * without any corpus re-encode. Codes and cells are bit-identical
    * to what the batch build computes for the same vectors (pinned in
    * StreamingSpec); centroid/codebook DRIFT from sustained ingest
    * surfaces through [[graft.ext.EmbeddingSearch.ivfRebuildAdvice]]
    * as usual.
    */
  def admitVectors(stream: DataFrame, index: graft.ext.VectorQuant.PqIvfIndex,
                   id: String, vec: String): DataFrame = {
    val cents = EmbeddingSearch.collectCentroids(
      IvfIndex(index.centroids, index.assignments))
    require(cents.nonEmpty, "index has no centroids")
    val collected = graft.ext.VectorQuant.collectBook(index.book)
    stream.select(col(id).as("id"), col(vec).as("__v"))
      .withColumn("__n", EmbeddingSearch.norm(col("__v")))
      .select(col("id"),
        element_at(EmbeddingSearch.probeCellsExpr(cents, col("__v"), col("__n"), 1),
          1).as("cell"),
        graft.ext.VectorQuant.pqEncodeExpr(collected, col("__v")).as("codes"))
  }

  /** [[admitVectors]] for the RESIDUAL-quantized index: cell, stage-1
    * codes, and stage-2 codes over the in-row residual — all pure
    * per-row expressions over driver-state literals
    * ([[graft.ext.VectorQuant.rqResidualExpr]] /
    * `pqEncodeExprD`), fully stateless. Output schema matches
    * [[graft.ext.VectorQuant.RqIvfIndex.assignments]]
    * (id, cell, codes1, codes2); append on the batch cadence. The
    * in-row stage-1 encode is pinned ≡ the join+agg batch encode in
    * VectorQuantSpec, so the admitted rows are bit-identical to what
    * [[graft.ext.VectorQuant.rqEncode]] computes for the same vectors
    * (pinned in StreamingSpec).
    */
  def admitVectorsRq(stream: DataFrame, index: graft.ext.VectorQuant.RqIvfIndex,
                     id: String, vec: String): DataFrame = {
    val cents = EmbeddingSearch.collectCentroids(
      IvfIndex(index.centroids, index.assignments.select(col("id"), col("cell"))))
    require(cents.nonEmpty, "index has no centroids")
    val c1 = graft.ext.VectorQuant.collectBook(index.books.book1)
    val c2 = graft.ext.VectorQuant.collectBookD(index.books.book2)
    stream.select(col(id).as("id"), col(vec).as("__v"))
      .withColumn("__n", EmbeddingSearch.norm(col("__v")))
      .select(col("id"),
        element_at(EmbeddingSearch.probeCellsExpr(cents, col("__v"), col("__n"), 1),
          1).as("cell"),
        graft.ext.VectorQuant.pqEncodeExpr(c1, col("__v")).as("codes1"),
        graft.ext.VectorQuant.pqEncodeExprD(c2,
          graft.ext.VectorQuant.rqResidualExpr(c1, col("__v"))).as("codes2"))
  }

  /** The shared stateless probe body: per-row cell choice over the
    * centroid literal, nprobe stream-static left joins against the
    * packed cell table, in-row exact rerank — see the object doc.
    */
  private def probePacked(cents: Array[(Long, Array[Float])], packed: DataFrame,
                          queryStream: DataFrame, queryId: String, queryVec: String,
                          k: Int, nprobe: Int): DataFrame = {
    require(k >= 1 && nprobe >= 1, s"k and nprobe must be >= 1, got k=$k nprobe=$nprobe")
    require(cents.nonEmpty, "index has no centroids")
    val q = queryStream.select(col(queryId).as("__qid"), col(queryVec).as("__qvec"))
      .withColumn("__qn", EmbeddingSearch.norm(col("__qvec")))
    val probed = q.withColumn("__pc",
      EmbeddingSearch.probeCellsExpr(cents, col("__qvec"), col("__qn"), nprobe))

    // one stream-static left join per probe slot (try_element_at:
    // short probe lists null-join cleanly under ANSI). The null-slot
    // fallback takes its type FROM the packed schema — a corpus with
    // int ids or double vectors would otherwise hit a coalesce type
    // mismatch a hard-coded cast string cannot follow
    val emptyMembers = array().cast(packed.schema("members").dataType)
    var joined = probed
    for (i <- 0 until nprobe) {
      val m = packed.select(col("cell").as(s"__cell$i"), col("members").as(s"__m$i"))
      joined = joined
        .join(m, try_element_at(col("__pc"), lit(i + 1)) === col(s"__cell$i"), "left")
        .drop(s"__cell$i")
    }
    val allMembers = flatten(array((0 until nprobe).map(i =>
      coalesce(col(s"__m$i"), emptyMembers)): _*))

    // per-row exact rerank: (cos desc, id asc) via ascending
    // struct(negcos, id) — the batch topKOut ordering
    val ranked = array_sort(transform(
      filter(allMembers, m => m.getField("id") =!= col("__qid")),
      m => struct((-(EmbeddingSearch.dot(col("__qvec"), m.getField("vec")) /
        (col("__qn") * m.getField("nrm")))).as("negcos"),
        m.getField("id").as("id"))))
    joined
      .select(col("__qid"), posexplode(slice(ranked, 1, k)).as(Seq("__pos", "__c")))
      .select(col("__qid").as(queryId), col("__c.id").as("neighbor_id"),
        (col("__pos") + 1).cast("int").as("rank"),
        (-col("__c.negcos")).as("cos"))
  }
}
