package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import org.apache.spark.sql.functions._

import graft.ops._
import graft.similarity.Similarity

import EntryInfra._

/** Product-quantization, residual, rotation, and truncation families
  * — one module of the per-family SparkEntry split (round 14): the
  * PQ/IVF-PQ `Seq[Query]` with each oracle decision, the codebook/rotation
  * caches, the PQ index builders, and the generated PQ/rotation
  * oracles. Extends [[AnnEntries]] for the shared drift fixtures and
  * float-routing helpers. Aggregated by [[SparkEntry]].
  */
private[graft] trait PqEntries extends AnnEntries {

  protected def pqQueries: Seq[Query] = Seq(
    // Product quantization: per-subspace Lloyd codebook (cached,
    // build-once like the IVF centroids), narrow ADC scan in exact
    // integer micro-units — codebook + LUT inlined into a generated
    // oracle, so the approximate ranking itself is hash-matched
    Query("q_knn_pq", (s, d) => {
      val cb = pqCodebookFor(s, d)
      // serve from the build-once codes table (encode once, query
      // many — the real PQ serving economics); the oracle replays the
      // full encode, so the persisted codes are still hash-gated
      Similarity.pqTopK(s.read.parquet(builtPqCodes(s, d)), cb,
        queryVec0(s, d), 10)
    },
      pqOracle(_.flat)),
    // IVF-PQ: the full 100 TB serving shape — cell-partitioned PQ
    // codes, literal probe cells pruning to nProbe directories, ADC
    // scan over the probed codes only. Oracle = the generated
    // codebook replay of q_knn_pq composed with the static seed-cell
    // assignment/probe CTEs of q_ann_ivf.
    Query("q_knn_pq_ivf", (s, d) =>
      Similarity.pqTopKFromIndex(s.read.parquet(builtPqIvfIndex(s, d)),
        seedCents16(s, d), pqCodebookFor(s, d), queryVec0(s, d), 10,
        nProbe = 2),
      pqOracle(_.ivf(""))),
    // The IVF-PQ maintenance matrix — the composed 100 TB serving
    // shape gets the same five members as the other index families,
    // each gated by the generated codebook replay (full corpus for
    // append/stream, filtered splits for erasure/as-of):
    // retry-idempotent batch append (built with the append run TWICE)
    Query("q_knn_pq_ivf_incremental", (s, d) =>
      Similarity.pqTopKFromIndex(s.read.parquet(builtPqIvfIncIndex(s, d)),
        seedCents16(s, d), pqCodebookFor(s, d), queryVec0(s, d), 10,
        nProbe = 2),
      // append ≡ rebuild shares the full-corpus replay
      SameAs("q_knn_pq_ivf")),
    // erasure: ids ≡ 3 mod 7 tombstoned; the layout-generic reader
    // anti-joins — tombstoned ≡ rebuild-on-remaining
    Query("q_knn_pq_ivf_deleted", (s, d) =>
      Similarity.pqTopKFromIndex(
        Similarity.readIvfIndex(s, builtPqIvfDelIndex(s, d)),
        seedCents16(s, d), pqCodebookFor(s, d), queryVec0(s, d), 10,
        nProbe = 2),
      // tombstoned ≡ rebuild-on-remaining
      pqOracle(_.ivf(" AND v.vec_id % 7 <> 3"))),
    // ...and compacted: erasure made physical, a plain cell scan
    // serves the erased state (shares the deleted replay)
    Query("q_knn_pq_ivf_compacted", (s, d) =>
      Similarity.pqTopKFromIndex(
        s.read.parquet(builtPqIvfCmpIndex(s, d)),
        seedCents16(s, d), pqCodebookFor(s, d), queryVec0(s, d), 10,
        nProbe = 2),
      // compacted ≡ tombstoned
      SameAs("q_knn_pq_ivf_deleted")),
    // snapshot by batch name: the probe as of the base build — the
    // "inc1" append's ids ≡ 1 mod 8 must vanish
    Query("q_knn_pq_ivf_asof", (s, d) =>
      Similarity.pqTopKFromIndex(
        Similarity.readIvfIndexAsOf(s, builtPqIvfIncIndex(s, d),
          Seq("build")),
        seedCents16(s, d), pqCodebookFor(s, d), queryVec0(s, d), 10,
        nProbe = 2),
      // as-of "build" on the incremental index: base split only
      pqOracle(_.ivf(" AND v.vec_id % 8 <> 1"))),
    // streaming ingestion: three checkpointed micro-batches through
    // pqIndexSink — stream-built ≡ rebuild
    Query("q_knn_pq_ivf_streamed", (s, d) =>
      Similarity.pqTopKFromIndex(
        s.read.parquet(builtPqIvfStreamedIndex(s, d) + "/idx"),
        seedCents16(s, d), pqCodebookFor(s, d), queryVec0(s, d), 10,
        nProbe = 2),
      // stream-built ≡ rebuild shares the full-corpus replay
      SameAs("q_knn_pq_ivf")),
    // BATCHED ADC serving: 5 queries' top-10 in ONE pass over the
    // union of their probed cells — the high-QPS economics (Q pruned
    // scans collapse to one; per-query results identical to the
    // single-query path, which the shared generated oracle gates)
    Query("q_knn_pq_multi", (s, d) =>
      Similarity.pqMultiTopKFromIndex(
        s.read.parquet(builtPqIvfIndex(s, d)), seedCents16(s, d),
        pqCodebookFor(s, d), multiQueryVecs(s, d), 10, nProbe = 2),
      pqRecallOracle(_.multi)),
    // QUERY-TABLE batched ADC serving (round-15 verdict #1): the
    // same 5-query batch as a DataFrame — each query's integer LUT
    // computed IN-PLAN on the broadcast probe side, O(1) plan size
    // in Q. Shares the literal twin's generated replay (batched ≡
    // singles stays the hash gate)
    Query("q_knn_pq_multi_qt", (s, d) =>
      Similarity.pqMultiTopKFromIndexQT(
        s.read.parquet(builtPqIvfIndex(s, d)), seedCents16(s, d),
        pqCodebookFor(s, d), multiQueryFrame(s, d), 10, nProbe = 2),
      // the query-table twin serves the SAME 5-query batch under the
      // SAME batched ≡ singles contract — one oracle, two plan shapes
      SameAs("q_knn_pq_multi")),
    // PQ operating-point evaluation: recall@10 of the written IVF-PQ
    // index's ADC ranking (nProbe=2 of 16 cells, 8-byte codes)
    // against exact float brute force for 5 queries — the doubly-
    // lossy path's q_ann_recall. Generated oracle replays encode,
    // per-query integer LUTs, probe routing, and the exact baseline,
    // so the recall numbers themselves are hash-gated
    Query("q_pq_recall", (s, d) =>
      Similarity.pqRecall(s.read.parquet(builtPqIvfIndex(s, d)),
        Tables.embeddings(s, d), seedCents16(s, d), pqCodebookFor(s, d),
        Seq(0L, 1L, 2L, 3L, 4L), 10, 2),
      pqRecallOracle(_.recall)),
    // The OPERATING CURVE behind q_pq_recall's single point: the
    // same ADC serving path swept over nProbe ∈ {1, 2, 4, 8} of 16
    // cells — the knob a deployment actually turns when recall at
    // the default probe width is not enough. Per-(n_probe, query)
    // rows stay exact; the generated oracle replays the shared
    // encode + LUTs once and re-ranks per probe level
    Query("q_pq_recall_curve", (s, d) => {
      val idx = s.read.parquet(builtPqIvfIndex(s, d))
      val emb = Tables.embeddings(s, d)
      val qs = Seq(0L, 1L, 2L, 3L, 4L)
      Seq(1, 2, 4, 8).map { np =>
        Similarity.pqRecall(idx, emb, seedCents16(s, d),
          pqCodebookFor(s, d), qs, 10, np)
          .withColumn("n_probe", lit(np))
      }.reduce(_.unionByName(_))
        .orderBy(col("n_probe"), col("query_id"))
    },
      pqRecallOracle(_.recallCurve)),
    // Drift maintenance for the composed index: the (cell_old →
    // cell_new) movement matrix between the built IVF-PQ index and
    // its reclusterPqIndex refresh — shares the float recluster's
    // generated oracle VERBATIM (cell assignment is from true floats
    // in every family; one SQL, three hash gates)
    Query("q_knn_pq_ivf_recluster", (s, d) =>
      Similarity.reclusterChurn(s, builtPqIvfIndex(s, d),
        builtPqIvfReclusteredIndex(s, d)),
      // per-row PQ encoding is index-independent and cells come from
      // the true embeddings, so the movement matrix is the float one
      SameAs("q_ann_ivf_recluster")),
    // The measurement that justifies a PQ refresh: the drifted corpus
    // (q_ann_ivf_recluster_recall's fixture) served from the STALE
    // index (frozen seed cells + frozen corpus codebook — exactly an
    // append-fed index, by append ≡ rebuild) vs the reclusterPqIndex
    // REFRESH (drift-seeded Lloyd cells + drift-retrained codebook);
    // recall@10 for drift-batch queries before and after, exact float
    // baseline shared. Generated oracle replays BOTH full encode+ADC
    // pipelines, so the drop→recovery numbers are hash-gated
    Query("q_pq_recluster_recall", (s, d) => {
      val dr = driftedEmbeddings(s, d)
      val qs = Seq(2000000L, 2000010L, 2000020L, 2000030L, 2000040L)
      val before = Similarity.pqRecall(
        s.read.parquet(builtPqDriftStaleIndex(s, d)), dr,
        seedCents16(s, d), pqCodebookFor(s, d), qs, 10, 2)
        .select(col("query_id"), col("n_exact"),
          col("recall").as("recall_before"))
      val after = Similarity.pqRecall(
        s.read.parquet(builtPqDriftFreshIndex(s, d)), dr,
        driftedCentroids(s, d), driftedPqCodebook(s, d), qs, 10, 2)
        .select(col("query_id"), col("recall").as("recall_after"))
      before.join(after, Seq("query_id")).orderBy(col("query_id"))
    },
      Generated(() => pqReclusterRecallOracle)),
    // Two-stage PQ serving (Jégou §V): the ADC scan SHORTLISTS 40
    // candidates from the probed cells, then the true float rows of
    // only those 40 re-rank exactly (bounded id list → In-pushdown
    // point lookups, never a corpus pass). Generated oracle replays
    // shortlist + re-rank, so the refined ranking is hash-gated
    Query("q_knn_pq_refined", (s, d) =>
      Similarity.pqTopKRefined(s.read.parquet(builtPqIvfIndex(s, d)),
        Tables.embeddings(s, d), seedCents16(s, d), pqCodebookFor(s, d),
        queryVec0(s, d), 10, nProbe = 2, shortlist = 40),
      pqOracle(_.refined)),
    // BATCHED two-stage serving (round 14 — the two high-QPS waves
    // composed): 5 queries' shortlists from ONE code scan, every
    // re-rank from ONE bounded fetch of the union of shortlisted
    // float rows — two scans for the whole batch vs 2Q single-query
    // passes. Batched ≡ 5 single refined serves is the hash gate
    Query("q_knn_pq_refined_multi", (s, d) =>
      Similarity.pqMultiTopKRefined(s.read.parquet(builtPqIvfIndex(s, d)),
        Tables.embeddings(s, d), seedCents16(s, d), pqCodebookFor(s, d),
        multiQueryVecs(s, d), 10, nProbe = 2, shortlist = 40),
      pqRecallOracle(_.refinedMulti)),
    // QUERY-TABLE batched two-stage (round-15 verdict #1): the
    // shortlist stays a DataFrame and the re-rank is a semi-join —
    // NO Q×R driver collect, no per-query isin literals. Shares the
    // literal twin's generated refined replay
    Query("q_knn_pq_refined_multi_qt", (s, d) =>
      Similarity.pqMultiTopKRefinedQT(s.read.parquet(builtPqIvfIndex(s, d)),
        Tables.embeddings(s, d), seedCents16(s, d), pqCodebookFor(s, d),
        multiQueryFrame(s, d), 10, nProbe = 2, shortlist = 40),
      // the query-table twin: same batch, same refined replay
      SameAs("q_knn_pq_refined_multi")),
    // ...and with the re-rank fetch BUCKET-PRUNED (round-16 verdict
    // #1, the last streamed pass on the serving path): the float
    // table is a vec_id-bucketed catalog table, the bounded Q×R
    // shortlist collects once and prunes bucket FILES via a vec_id
    // IN-predicate — at 100 TB the re-rank reads hit buckets, never
    // a full streamed pass per batch. Shares the refined replay
    // verbatim: bucketed ≡ streamed ≡ Q singles is the hash gate
    // STREAM ≡ BATCH for the COLD-tier serve sink: the accumulated
    // batch-stamped catalog of pqRefinedServingSink (two checkpointed
    // micro-batches {0,1,2}+{3,4} through the two-stage refined plan)
    // re-sorted as one readout must equal the one-shot 5-query
    // refined serve — shares q_knn_pq_refined_multi's replay verbatim
    Query("q_knn_pq_served_catalog", (s, d) =>
      s.read.parquet(builtRefinedServedCatalog(s, d) + "/out")
        .select(col("query_id"), col("vec_id"), col("cos_sim"))
        .orderBy(col("query_id"), col("cos_sim").desc, col("vec_id")),
      // the cold-tier serve sink's accumulated catalog: stream ≡
      // the same one-shot refined replay
      SameAs("q_knn_pq_refined_multi")),
    Query("q_knn_pq_refined_multi_qt_bucketed", (s, d) =>
      Similarity.pqMultiTopKRefinedQTBucketed(
        s.read.parquet(builtPqIvfIndex(s, d)),
        graft.ops.BucketedTables.readTable(s, builtBucketedEmb(s, d)),
        seedCents16(s, d), pqCodebookFor(s, d),
        multiQueryFrame(s, d), 10, nProbe = 2, shortlist = 40),
      // bucketed ≡ streamed ≡ Q singles: the bucket-pruned re-rank
      // fetch shares the same refined replay
      SameAs("q_knn_pq_refined_multi")),
    // The measurement that prices the re-rank stage: recall@10 of the
    // two-stage path vs q_pq_recall's pure-ADC 0.52 — measured 0.88,
    // exactly the float routing ceiling at nProbe=2 (q_ann_recall
    // 0.90): a deep-enough shortlist recovers ALL ADC loss, and the
    // residual gap is coarse routing, which only nProbe can buy back
    Query("q_pq_refined_recall", (s, d) =>
      Similarity.pqRefinedRecall(s.read.parquet(builtPqIvfIndex(s, d)),
        Tables.embeddings(s, d), seedCents16(s, d), pqCodebookFor(s, d),
        Seq(0L, 1L, 2L, 3L, 4L), 10, nProbe = 2, shortlist = 40),
      pqRecallOracle(_.refinedRecall)),
    // The SHORTLIST-DEPTH operating curve behind that single point —
    // the knob a deployment sizes the re-rank I/O budget with:
    // recall@10 over R ∈ {10, 20, 40, 80} at nProbe=2. R=10 is the
    // pure-ADC point by construction (re-ranking 10 of 10 reorders,
    // never recovers); the curve saturates at the routing ceiling
    Query("q_pq_refined_curve", (s, d) => {
      val idx = s.read.parquet(builtPqIvfIndex(s, d))
      val emb = Tables.embeddings(s, d)
      val qs = Seq(0L, 1L, 2L, 3L, 4L)
      // shared-work curve (round-17): row-identical to the composed
      // per-depth unionByName form (SimilaritySpec parity pin), with
      // the ADC shortlist, float fetch and exact baseline computed
      // once instead of once per depth
      Similarity.pqRefinedRecallCurve(idx, emb, seedCents16(s, d),
        pqCodebookFor(s, d), qs, 10, nProbe = 2, Seq(10, 20, 40, 80))
    },
      pqRecallOracle(_.refinedCurve)),
    // The CODE-WIDTH lever, measured: the same m=8 code count with
    // 8-bit books (ksub 64 → 256, the full byte the "8-byte code"
    // budget always allowed) lifts pure-ADC recall@10 0.52 → 0.66 at
    // sf0.01 — the knob q_pq_recall_curve showed nProbe cannot turn.
    // Own trained codebook, own written index, same generated-replay
    // oracle shape
    Query("q_pq_recall_wide", (s, d) =>
      Similarity.pqRecall(s.read.parquet(builtWidePqIvfIndex(s, d)),
        Tables.embeddings(s, d), seedCents16(s, d),
        widePqCodebookFor(s, d), Seq(0L, 1L, 2L, 3L, 4L), 10, 2),
      Generated(() => pqWideRecallOracle)),
    // RESIDUAL encoding (IVFADC proper, Jégou §III): codes quantize
    // v − c_cell instead of v; serving adds one per-cell LUT term
    // (dot(q,v) = dot(q,c_cell) + dot(q,r) decomposes exactly).
    // Measured HONESTLY on this corpus: no gain (0.48 vs raw 0.52 at
    // sf0.01) — the coarse quantizer explains nothing on near-uniform
    // synthetic embeddings (mean residual norm 0.95 on a unit-norm
    // corpus, the diagnostic a deployment checks before enabling
    // residual encoding). The operator is the standard shape for
    // clustered corpora; the measurement is the when-to-use guidance
    Query("q_knn_pq_residual", (s, d) =>
      Similarity.residualPqTopKFromIndex(
        s.read.parquet(builtResidualPqIndex(s, d)), seedCents16(s, d),
        residualPqCodebookFor(s, d), queryVec0(s, d), 10, nProbe = 2),
      residualPqOracle(_.knn)),
    Query("q_pq_residual_recall", (s, d) =>
      Similarity.residualPqRecall(
        s.read.parquet(builtResidualPqIndex(s, d)),
        Tables.embeddings(s, d), seedCents16(s, d),
        residualPqCodebookFor(s, d), Seq(0L, 1L, 2L, 3L, 4L), 10, 2),
      residualPqOracle(_.recall)),
    // BATCHED serving for the residual store — the last cell of the
    // batched matrix (each query carries its LUT and its per-cell
    // term literal; one pass over the union of probed cells).
    // Batched ≡ 5 single residual serves is the hash gate
    Query("q_knn_pq_residual_multi", (s, d) =>
      Similarity.residualPqMultiTopKFromIndex(
        s.read.parquet(builtResidualPqIndex(s, d)), seedCents16(s, d),
        residualPqCodebookFor(s, d), multiQueryVecs(s, d), 10,
        nProbe = 2),
      residualPqOracle(_.multi)),
    // QUERY-TABLE batched residual serving (round-15 verdict #1):
    // both per-query LUTs (residual codebook + per-cell term) are
    // broadcast-side COLUMNS. Shares the literal twin's generated
    // residual replay
    Query("q_knn_pq_residual_multi_qt", (s, d) =>
      Similarity.residualPqMultiTopKFromIndexQT(
        s.read.parquet(builtResidualPqIndex(s, d)), seedCents16(s, d),
        residualPqCodebookFor(s, d), multiQueryFrame(s, d), 10,
        nProbe = 2),
      // the query-table twin: same batch, same residual replay
      SameAs("q_knn_pq_residual_multi")),
    // Two-stage serving over the RESIDUAL store (round 14 — the
    // composition the IVFADC family lacked): residual-ADC shortlist
    // of 40 from the probed cells, exact re-rank of only those float
    // rows — the same bounded-In-pushdown tail as q_knn_pq_refined.
    // Generated oracle replays residual encode + shortlist + re-rank
    Query("q_knn_pq_residual_refined", (s, d) =>
      Similarity.residualPqTopKRefined(
        s.read.parquet(builtResidualPqIndex(s, d)),
        Tables.embeddings(s, d), seedCents16(s, d),
        residualPqCodebookFor(s, d), queryVec0(s, d), 10, nProbe = 2,
        shortlist = 40),
      residualPqOracle(_.refined)),
    // ...and its measured operating point: the re-rank recovers
    // residual-ADC loss up to the shared routing ceiling, so raw vs
    // residual codes wash out under a deep shortlist — the store
    // decision stays with the residual-norm diagnostic
    Query("q_pq_residual_refined_recall", (s, d) =>
      Similarity.residualPqRefinedRecall(
        s.read.parquet(builtResidualPqIndex(s, d)),
        Tables.embeddings(s, d), seedCents16(s, d),
        residualPqCodebookFor(s, d), Seq(0L, 1L, 2L, 3L, 4L), 10, 2,
        40),
      residualPqOracle(_.refinedRecall)),
    // The FOURTH compression lever: prefix truncation (Matryoshka) —
    // recall@10 serving only the first d ∈ {8,16,32,64} components
    // vs the full-dim exact ranking. No artifact, just a sliced
    // scan at dim/d× less I/O; the measured decay is the
    // un-front-loaded baseline (these embeddings are not
    // MRL-trained). Static oracle replays every prefix ranking
    Query("q_truncation_recall", (s, d) =>
      Similarity.truncationRecall(Tables.embeddings(s, d),
        Seq(0L, 1L, 2L, 3L, 4L), 10, Seq(8, 16, 32, 64)),
      // the truncation (Matryoshka) operating curve: every prefix
      // ranking + the full-dim exact baseline replay — fully static
      Sql(s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
                    FROM embeddings),
         qv AS (SELECT vec_id AS query_id, ve AS qe FROM v
                WHERE vec_id IN (0, 1, 2, 3, 4)),
         exact AS (SELECT query_id, vec_id FROM (
             SELECT q.query_id, v.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(v.ve, q.qe), 4) DESC,
                          v.vec_id) AS rn
             FROM v CROSS JOIN qv q) WHERE rn <= 10)
         SELECT * FROM (
           ${truncationLevelSql(8)} UNION ALL ${truncationLevelSql(16)}
           UNION ALL ${truncationLevelSql(32)} UNION ALL ${truncationLevelSql(64)})
         ORDER BY dims, query_id""")),
    // ...and the FRONT-LOADED twin: the same prefixes after the
    // corpus's principal rotation (PCA axes as a frozen literal
    // artifact — Matryoshka-without-retraining). Prices exactly what
    // variance front-loading buys back at each prefix; the full-dim
    // level is the rotation-invariance sanity row. Generated oracle
    // replays the projection and every prefix ranking
    Query("q_truncation_recall_rotated", (s, d) =>
      Similarity.rotatedTruncationRecall(Tables.embeddings(s, d),
        principalRotationFor(s, d), Seq(0L, 1L, 2L, 3L, 4L), 10,
        Seq(8, 16, 32, 64)),
      Generated(() => rotatedTruncationOracle)),
    // ROTATION UNDER DRIFT (round-13 verdict #5, completing the
    // fourth compression axis's maintenance story): the rotation is
    // trained on the REFERENCE corpus, then a variance-shifted
    // re-ingest lands (upper-half components ×4 — the negation
    // fixture can't move second moments) and drifted-batch queries
    // serve through rotated-prefix truncation — recall with the
    // stale rotation vs one re-trained on the drifted corpus, per
    // prefix. Generated oracle replays BOTH projections, both
    // rankings, and the exact baseline over the drifted corpus
    Query("q_truncation_drift", (s, d) => {
      val de = varianceDriftedEmbeddings(s, d)
      val qids = Seq(3000000L, 3000004L, 3000008L, 3000012L, 3000016L)
      val stale = Similarity.rotatedTruncationRecall(de,
        principalRotationFor(s, d), qids, 10, Seq(8, 16))
        .select(col("dims"), col("query_id"), col("n_exact"),
          col("recall").as("recall_stale"))
      val fresh = Similarity.rotatedTruncationRecall(de,
        driftedRotationFor(s, d), qids, 10, Seq(8, 16))
        .select(col("dims"), col("query_id"),
          col("recall").as("recall_refreshed"))
      stale.join(fresh, Seq("dims", "query_id"))
        .orderBy(col("dims"), col("query_id"))
    },
      Generated(() => truncationDriftOracle)),
  )
  /** Build-once PQ code table per corpus (encode once, query many). */
  protected def builtPqCodes(s: SparkSession, d: String): String =
    builtIndexDir("graft_pq", d) { p =>
      Similarity.pqEncode(Tables.embeddings(s, d), pqCodebookFor(s, d))
        .write.mode("overwrite").parquet(p)
    }

  /** Cell-partitioned IVF-PQ index per corpus — the composed serving
    * artifact (directory pruning over 8-byte codes).
    */
  protected def builtPqIvfIndex(s: SparkSession, d: String): String =
    builtIndexDir("graft_pqivf", d) { p =>
      Similarity.writePqIndex(Tables.embeddings(s, d), seedCents16(s, d),
        pqCodebookFor(s, d), p)
    }

  /** Build-once SERVED CATALOG of the COLD-tier streaming serve sink
    * — [[builtQuantServedCatalog]]'s twin for
    * [[graft.streaming.Pipelines.pqRefinedServingSink]]: the same two
    * checkpointed micro-batches ({0,1,2} then {3,4}) through the real
    * two-stage refined sink against the build-once IVF-PQ index, so
    * the accumulated catalog must equal the one-shot 5-query refined
    * serve (q_knn_pq_refined_multi's replay).
    */
  protected def builtRefinedServedCatalog(s: SparkSession,
      d: String): String = {
    val idx = builtPqIvfIndex(s, d)
    val cb = pqCodebookFor(s, d)
    builtIndexDir("graft_pserve", d) { p =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val emb = Tables.embeddings(s, d)
      emb.write.parquet(p + "/emb")
      val mem = MemoryStream[Long]
      val src = mem.toDS().toDF("query_id")
        .join(emb, col("query_id") === col("vec_id"))
        .select(col("query_id"), col("embedding"))
      val q = graft.streaming.Pipelines.pqRefinedServingSink(
        src, seedCents16(s, d), cb, idx, p + "/emb", p + "/out",
        p + "/ckpt", k = 10, nProbe = 2, shortlist = 40)
      try {
        mem.addData(Seq(0L, 1L, 2L))
        q.processAllAvailable()
        mem.addData(Seq(3L, 4L))
        q.processAllAvailable()
      } finally q.stop()
    }
  }

  /** Build-once vec_id-BUCKETED embeddings catalog table — the float
    * side of the bucket-pruned two-stage re-rank (round-16 verdict
    * #1): 16 buckets sorted by vec_id, so a bounded shortlist
    * IN-predicate prunes bucket files instead of streaming the table.
    */
  protected def builtBucketedEmb(s: SparkSession, d: String): String =
    builtTable("graft_bktemb", d) { t =>
      graft.ops.BucketedTables.writeBucketed(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        t, "vec_id", 16)
    }

  /** Cell-partitioned RESIDUAL-encoded IVF-PQ index per corpus —
    * [[builtPqIvfIndex]]'s layout with (v − c_cell) codes.
    */
  protected def builtResidualPqIndex(s: SparkSession, d: String): String =
    builtIndexDir("graft_rpqivf", d) { p =>
      Similarity.writeResidualPqIndex(Tables.embeddings(s, d),
        seedCents16(s, d), residualPqCodebookFor(s, d), p)
    }

  /** Cell-partitioned WIDE-BOOK (ksub=256) IVF-PQ index per corpus —
    * the code-width operating point's serving artifact.
    */
  protected def builtWidePqIvfIndex(s: SparkSession, d: String): String =
    builtIndexDir("graft_wpqivf", d) { p =>
      Similarity.writePqIndex(Tables.embeddings(s, d), seedCents16(s, d),
        widePqCodebookFor(s, d), p)
    }

  /** Incrementally-assembled IVF-PQ index: base = corpus minus its
    * ≡1 mod 8 eighth, that eighth appended (twice — the second call
    * is the retry replay) under batch "inc1" against the same frozen
    * centroids + codebook. Probing it shares q_knn_pq_ivf's
    * full-corpus oracle: append ≡ rebuild is the hash gate, and the
    * doubled append gates retry idempotence the same way.
    */
  protected def builtPqIvfIncIndex(s: SparkSession, d: String): String = {
    val cents = seedCents16(s, d)
    val cb = pqCodebookFor(s, d)
    builtIndexDir("graft_pqivf_inc", d) { p =>
      val emb = Tables.embeddings(s, d)
      Similarity.writePqIndex(
        emb.filter(col("vec_id") % 8 =!= 1), cents, cb, p)
      Similarity.appendToPqIndex(
        emb.filter(col("vec_id") % 8 === 1), cents, cb, p, "inc1")
      Similarity.appendToPqIndex(
        emb.filter(col("vec_id") % 8 === 1), cents, cb, p, "inc1")
    }
  }

  /** Full IVF-PQ index with the ids ≡ 3 mod 7 batch TOMBSTONED —
    * [[graft.similarity.Similarity.deleteFromIvfIndex]] is
    * layout-generic, so erasure composes onto the PQ store unchanged.
    */
  protected def builtPqIvfDelIndex(s: SparkSession, d: String): String = {
    val cents = seedCents16(s, d)
    val cb = pqCodebookFor(s, d)
    builtIndexDir("graft_pqivf_del", d) { p =>
      val emb = Tables.embeddings(s, d)
      Similarity.writePqIndex(emb, cents, cb, p)
      Similarity.deleteFromIvfIndex(
        emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")), p, "d1")
    }
  }

  /** [[builtPqIvfDelIndex]] then COMPACTED — the code cells rewritten
    * without the tombstoned rows; a plain scan serves the erased
    * state.
    */
  protected def builtPqIvfCmpIndex(s: SparkSession, d: String): String = {
    val cents = seedCents16(s, d)
    val cb = pqCodebookFor(s, d)
    builtIndexDir("graft_pqivf_cmp", d) { p =>
      val emb = Tables.embeddings(s, d)
      Similarity.writePqIndex(emb, cents, cb, p)
      Similarity.deleteFromIvfIndex(
        emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")), p, "d1")
      Similarity.compactIvfIndex(s, p)
    }
  }

  /** Build-once STREAM-BUILT IVF-PQ index: three checkpointed
    * MemoryStream micro-batches through the real pqIndexSink.
    */
  protected def builtPqIvfStreamedIndex(s: SparkSession, d: String): String = {
    val cents = seedCents16(s, d)
    val cb = pqCodebookFor(s, d)
    builtIndexDir("graft_pqivf_str", d) { p =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val emb = Tables.embeddings(s, d)
      val mem = MemoryStream[Long]
      val src = mem.toDS().toDF("vec_id").join(emb, "vec_id")
      val q = graft.streaming.Pipelines.pqIndexSink(
        src, cents, cb, p + "/idx", p + "/ckpt")
      try {
        val ids = emb.select("vec_id").collect().map(_.getLong(0)).sorted
        (0L until 3L).foreach { b =>
          mem.addData(ids.filter(_ % 3 == b).toIndexedSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
    }
  }

  /** Build-once RECLUSTERED IVF-PQ index — the PQ member of the
    * [[builtIvfReclusteredIndex]] family: the full index's live
    * entries re-encoded FROM THE SOURCE TABLE (the code store
    * carries no embeddings) against the Lloyd-refined coarse
    * centroids into a fresh directory; the codebook retrains on the
    * same source (here identical to the build's — the refresh
    * procedure, not the drift, is what the churn matrix audits).
    */
  protected def builtPqIvfReclusteredIndex(s: SparkSession, d: String): String = {
    val src = builtPqIvfIndex(s, d)
    val cents = kmeansCentroids(s, d)
    val cb = pqCodebookFor(s, d)
    builtIndexDir("graft_pqivf_rc", d) { p =>
      Similarity.reclusterPqIndex(s, src, Tables.embeddings(s, d), cents,
        cb, p)
    }
  }

  /** Build-once STALE IVF-PQ index over the DRIFTED corpus: the drift
    * batch encoded with the FROZEN build literals (seed centroids +
    * corpus codebook) — by the append ≡ rebuild contract this is
    * exactly the state of a served index whose drift batches arrived
    * through [[graft.similarity.Similarity.appendToPqIndex]] with no
    * refresh, the "before" side of the recall measurement.
    */
  protected def builtPqDriftStaleIndex(s: SparkSession, d: String): String = {
    val cents = seedCents16(s, d)
    val cb = pqCodebookFor(s, d)
    builtIndexDir("graft_pqd_stale", d) { p =>
      Similarity.writePqIndex(driftedEmbeddings(s, d), cents, cb, p)
    }
  }

  /** The stale drift index REFRESHED through
    * [[graft.similarity.Similarity.reclusterPqIndex]]: coarse
    * centroids re-trained on the drifted corpus (the
    * [[driftedCentroids]] seeding policy) AND the codebook re-trained
    * on the drifted corpus — the "after" side.
    */
  protected def builtPqDriftFreshIndex(s: SparkSession, d: String): String = {
    val stale = builtPqDriftStaleIndex(s, d)
    val cents = driftedCentroids(s, d)
    val cb = driftedPqCodebook(s, d)
    builtIndexDir("graft_pqd_rc", d) { p =>
      Similarity.reclusterPqIndex(s, stale, driftedEmbeddings(s, d),
        cents, cb, p)
    }
  }

  /** PQ codebook per corpus dir — build-once, probe-many; the cached
    * value feeds BOTH the Spark scan and the generated oracle below
    * (same race-avoidance as [[kmeansCentroids]]).
    */
  protected val pqCbCache =
    new java.util.concurrent.ConcurrentHashMap[String, Similarity.PqCodebook]()

  protected def pqCodebookFor(s: SparkSession, d: String): Similarity.PqCodebook = {
    lastOracleDir = d
    pqCbCache.computeIfAbsent(d, _ =>
      Similarity.pqBuild(Tables.embeddings(s, d), m = 8, ksub = 64,
        iterations = 2))
  }

  /** RESIDUAL PQ codebook per corpus dir — trained on (v − c_cell)
    * against the frozen seed cells ([[Similarity.pqBuildResidual]]);
    * the frozen (cents, codebook) pair feeds both the Spark scan and
    * the generated residual oracles. Same cache lifecycle as
    * [[pqCodebookFor]].
    */
  protected val pqResidualCbCache =
    new java.util.concurrent.ConcurrentHashMap[String, Similarity.PqCodebook]()

  protected def residualPqCodebookFor(s: SparkSession, d: String): Similarity.PqCodebook = {
    lastOracleDir = d
    pqResidualCbCache.computeIfAbsent(d, _ =>
      Similarity.pqBuildResidual(Tables.embeddings(s, d),
        seedCents16(s, d), m = 8, ksub = 64, iterations = 2))
  }

  /** Variance-front-loading rotation per corpus dir — the frozen PCA
    * artifact q_truncation_recall_rotated serves and replays
    * (same-JVM oracle-literal lifecycle as [[pqCodebookFor]]).
    */
  protected val rotationCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Double]]]()

  protected def principalRotationFor(s: SparkSession, d: String): Seq[Seq[Double]] = {
    lastOracleDir = d
    rotationCache.computeIfAbsent(d, _ =>
      Similarity.principalRotation(Tables.embeddings(s, d)))
  }

  /** The VARIANCE-SHIFT drift fixture for the rotation axis: a
    * re-ingest batch (ids + 3000000, every 4th base row) whose upper
    * 32 components are amplified ×4 — unlike the negation fixture
    * (whose xxᵀ outer products are negation-invariant, so second
    * moments barely move), this concentrates new variance in a
    * subspace the reference-trained rotation did not front-load.
    * ×4 is exact in IEEE, so both engines replay it bit-identically.
    */
  protected def varianceDriftedEmbeddings(s: SparkSession,
      d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))
    val boosted = e.filter(col("vec_id") % 4 === 0)
      .select((col("vec_id") + 3000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i >= 32, x * 4.0).otherwise(x)).as("embedding"))
    e.unionByName(boosted)
  }

  protected val rotationDriftCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Double]]]()

  protected def driftedRotationFor(s: SparkSession, d: String): Seq[Seq[Double]] = {
    lastOracleDir = d
    rotationDriftCache.computeIfAbsent(d, _ =>
      Similarity.principalRotation(varianceDriftedEmbeddings(s, d)))
  }

  /** WIDE PQ codebook per corpus dir — the same m=8 code count with
    * full 8-bit books (ksub=256): the code-width operating point
    * q_pq_recall_wide prices against [[pqCodebookFor]]'s ksub=64.
    */
  protected val pqWideCbCache =
    new java.util.concurrent.ConcurrentHashMap[String, Similarity.PqCodebook]()

  protected def widePqCodebookFor(s: SparkSession, d: String): Similarity.PqCodebook = {
    lastOracleDir = d
    pqWideCbCache.computeIfAbsent(d, _ =>
      Similarity.pqBuild(Tables.embeddings(s, d), m = 8, ksub = 256,
        iterations = 2))
  }

  /** PQ codebook RE-TRAINED on the drifted corpus — the codebook half
    * of the PQ refresh [[builtPqDriftFreshIndex]] cuts over to (the
    * coarse-centroid half is [[driftedCentroids]]). Same training
    * procedure as [[pqCodebookFor]]; per-subspace Lloyd adapts the
    * code points to the drifted distribution, so re-encoded drift
    * vectors quantize against code points that actually exist in
    * their cone. Same cache + oracle-literal lifecycle.
    */
  protected val pqDriftedCbCache =
    new java.util.concurrent.ConcurrentHashMap[String, Similarity.PqCodebook]()

  protected def driftedPqCodebook(s: SparkSession, d: String): Similarity.PqCodebook = {
    lastOracleDir = d
    pqDriftedCbCache.computeIfAbsent(d, _ =>
      Similarity.pqBuild(driftedEmbeddings(s, d), m = 8, ksub = 64,
        iterations = 2))
  }

  /** Oracles for q_knn_pq and q_knn_pq_ivf, generated after a PQ
    * query ran (empty until then → rows-only, same lifecycle as
    * [[ivfKmeansOracle]]): the codebook prints as full-precision
    * double literals and the SQL replays encode (per-subspace argmin
    * of the rounded index-order L2 fold) and ADC scoring (integer
    * micro-unit LUT) exactly. The IVF-PQ variant prepends the SAME
    * static seed-cell assignment + probe CTEs as q_ann_ivf, so the
    * cell-pruned serving path is hash-gated end to end.
    */
  protected def pqOracle(sql: PqAdcSql => String): Oracle = Generated(() =>
    Option(lastOracleDir).flatMap(d => Option(pqCbCache.get(d)))
      .map(cb => sql(new PqAdcSql(cb))))

  /** The [[pqOracle]] replays over one codebook. */
  protected final class PqAdcSql(cb: Similarity.PqCodebook) {
    private val sd = cb.subDim
    private val values = pqCbValuesSql(cb)
    // shared encode + ADC tail over a (vec_id, ve) CTE named pv
    private def adc(select: String) =
      s"""$select,
           q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
                 WHERE vec_id = 0),
           dist AS (SELECT pv.vec_id, c.sub, c.cid,
               round(list_reduce(
                 [(pv.ve[c.sub * $sd + i] - c.ce[i]) * (pv.ve[c.sub * $sd + i] - c.ce[i])
                  for i in range(1, ${sd + 1})], (a, b) -> a + b), 6) AS dd
             FROM pv CROSS JOIN cb c),
           codes AS (SELECT vec_id, sub, cid FROM (
               SELECT vec_id, sub, cid,
                 row_number() OVER (PARTITION BY vec_id, sub
                                    ORDER BY dd ASC, cid) AS rn
               FROM dist) WHERE rn = 1),
           lut AS (SELECT c.sub, c.cid,
               CAST(round(list_reduce(
                 [q.qe[c.sub * $sd + i] * c.ce[i] for i in range(1, ${sd + 1})],
                 (a, b) -> a + b) * 1000000.0, 0) AS BIGINT) AS l6
             FROM cb c CROSS JOIN q),
           s6t AS (SELECT k.vec_id, sum(l.l6) AS s6
                  FROM codes k JOIN lut l ON l.sub = k.sub AND l.cid = k.cid
                  GROUP BY 1)
           SELECT vec_id, round(s6 / 1000000.0, 6) AS pq_sim FROM s6t
           ORDER BY pq_sim DESC, vec_id LIMIT 10"""
    // the IVF-PQ prefix parameterized by an extra corpus predicate:
    // "" replays the full corpus (build/append/stream twins),
    // a filter replays the erasure / as-of splits
    private def ivfPv(extra: String) =
      s"""WITH cb AS (SELECT sub, cid, ce FROM (VALUES $values) t(sub, cid, ce)),
           cc AS (SELECT vec_id AS ccid, CAST(embedding AS DOUBLE[]) AS ce2
                  FROM embeddings WHERE vec_id < 16),
           v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
           sc AS (SELECT v.vec_id, cc.ccid,
                    round(list_cosine_similarity(v.ve, cc.ce2), 4) AS s
                  FROM v CROSS JOIN cc),
           assign AS (SELECT vec_id, ccid AS cell FROM (
               SELECT vec_id, ccid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ccid) AS rn
               FROM sc) WHERE rn = 1),
           probes AS (SELECT ccid FROM sc WHERE vec_id = 0
                      ORDER BY s DESC, ccid LIMIT 2),
           pv AS (SELECT v.vec_id, v.ve FROM v
                  JOIN assign a ON a.vec_id = v.vec_id
                  WHERE a.cell IN (SELECT ccid FROM probes)$extra)"""
    def flat: String =
      adc(
        s"""WITH cb AS (SELECT sub, cid, ce FROM (VALUES $values) t(sub, cid, ce)),
           pv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings)""")
    // two-stage serving: the same probed ADC pipeline SHORTLISTS
    // 40 ids, then the true float rows of those ids re-rank
    // exactly — replays shortlist AND re-rank
    def refined: String =
      s"""${ivfPv("")},
           q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
                 WHERE vec_id = 0),
           dist AS (SELECT pv.vec_id, c.sub, c.cid,
               round(list_reduce(
                 [(pv.ve[c.sub * $sd + i] - c.ce[i]) * (pv.ve[c.sub * $sd + i] - c.ce[i])
                  for i in range(1, ${sd + 1})], (a, b) -> a + b), 6) AS dd
             FROM pv CROSS JOIN cb c),
           codes AS (SELECT vec_id, sub, cid FROM (
               SELECT vec_id, sub, cid,
                 row_number() OVER (PARTITION BY vec_id, sub
                                    ORDER BY dd ASC, cid) AS rn
               FROM dist) WHERE rn = 1),
           lut AS (SELECT c.sub, c.cid,
               CAST(round(list_reduce(
                 [q.qe[c.sub * $sd + i] * c.ce[i] for i in range(1, ${sd + 1})],
                 (a, b) -> a + b) * 1000000.0, 0) AS BIGINT) AS l6
             FROM cb c CROSS JOIN q),
           s6t AS (SELECT k.vec_id, sum(l.l6) AS s6
                  FROM codes k JOIN lut l ON l.sub = k.sub AND l.cid = k.cid
                  GROUP BY 1),
           short AS (SELECT vec_id FROM (
               SELECT vec_id,
                 row_number() OVER (
                   ORDER BY round(s6 / 1000000.0, 6) DESC, vec_id) AS rn
               FROM s6t) WHERE rn <= 40)
           SELECT v2.vec_id,
             round(list_cosine_similarity(v2.ve, q.qe), 4) AS cos_sim
           FROM v v2 JOIN short ON short.vec_id = v2.vec_id CROSS JOIN q
           ORDER BY cos_sim DESC, v2.vec_id LIMIT 10"""
    // the fully-served hybrid: the probed ADC shortlist + exact
    // re-rank branch AND the BM25 branch AND the RRF fusion all
    // replay — the complete compressed retrieval stack hash-gated
    def hybridCompressed: String =
      s"""${ivfPv("")},
           q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
                 WHERE vec_id = 0),
           dist AS (SELECT pv.vec_id, c.sub, c.cid,
               round(list_reduce(
                 [(pv.ve[c.sub * $sd + i] - c.ce[i]) * (pv.ve[c.sub * $sd + i] - c.ce[i])
                  for i in range(1, ${sd + 1})], (a, b) -> a + b), 6) AS dd
             FROM pv CROSS JOIN cb c),
           codes AS (SELECT vec_id, sub, cid FROM (
               SELECT vec_id, sub, cid,
                 row_number() OVER (PARTITION BY vec_id, sub
                                    ORDER BY dd ASC, cid) AS rn
               FROM dist) WHERE rn = 1),
           lut AS (SELECT c.sub, c.cid,
               CAST(round(list_reduce(
                 [q.qe[c.sub * $sd + i] * c.ce[i] for i in range(1, ${sd + 1})],
                 (a, b) -> a + b) * 1000000.0, 0) AS BIGINT) AS l6
             FROM cb c CROSS JOIN q),
           s6t AS (SELECT k.vec_id, sum(l.l6) AS s6
                  FROM codes k JOIN lut l ON l.sub = k.sub AND l.cid = k.cid
                  GROUP BY 1),
           short AS (SELECT vec_id FROM (
               SELECT vec_id,
                 row_number() OVER (
                   ORDER BY round(s6 / 1000000.0, 6) DESC, vec_id) AS rn
               FROM s6t) WHERE rn <= 40),
           rr AS (SELECT v2.vec_id,
               round(list_cosine_similarity(v2.ve, q.qe), 4) AS cos_sim
             FROM v v2 JOIN short ON short.vec_id = v2.vec_id CROSS JOIN q),
           sem AS (SELECT vec_id AS doc_id, CAST(rk AS INTEGER) AS sem_rank
             FROM (SELECT vec_id,
                 row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rk
               FROM rr) WHERE rk <= 20),
           bd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           bdd AS (SELECT doc_id, len(ws) AS dl, ws FROM bd),
           bstats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM bdd),
           btf AS (SELECT doc_id, dl, term, count(*) AS tf
                  FROM (SELECT doc_id, dl, unnest(ws) AS term FROM bdd)
                  WHERE term IN ('merge', 'query')
                  GROUP BY doc_id, dl, term),
           bdfreq AS (SELECT term, count(*) AS df FROM btf GROUP BY term),
           bm AS (SELECT doc_id,
               round(sum(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6)
                 * (tf * (1.2 + 1.0))
                 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25
             FROM btf JOIN bdfreq USING (term) CROSS JOIN bstats
             GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20),
           lex AS (SELECT doc_id,
               CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                 AS INTEGER) AS lex_rank FROM bm)
           SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
             lex_rank, sem_rank,
             round(coalesce(CAST(1 AS DOUBLE) / (60 + lex_rank), 0.0) +
                   coalesce(CAST(1 AS DOUBLE) / (60 + sem_rank), 0.0), 6) AS rrf
           FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
           ORDER BY rrf DESC, doc_id LIMIT 10"""
    // the IVF-PQ replay over the corpus predicate `extra`
    def ivf(extra: String): String = adc(ivfPv(extra))
  }

  /** A PQ codebook as DuckDB VALUES rows (sub, cid, double-array
    * literal) — shared by every generated PQ oracle; full-precision
    * shortest-round-trip doubles, the centroid-literal convention.
    */
  protected def pqCbValuesSql(cb: Similarity.PqCodebook): String =
    (for {
      j <- 0 until cb.m
      (c, ci) <- cb.centroids(j).zipWithIndex
    } yield s"($j, $ci, [${c.mkString(",")}]::DOUBLE[])").mkString(", ")

  /** Oracles for q_pq_recall and q_pq_recall_curve (generated —
    * [[pqOracle]]'s lifecycle): the codebook prints as literals and
    * the SQL replays the WHOLE evaluation — encode (per-subspace
    * argmin of the rounded index-order L2 fold), per-query integer
    * micro-unit LUTs, seed-cell probe routing, the ADC rankings, and
    * the exact float baseline — so the recall@10 numbers themselves
    * are hash-gated. The curve variant shares the encode/LUT CTEs
    * and re-ranks per probe level.
    */
  /** The shared recall-eval CTE prefix for a given codebook: corpus,
    * seed cells, assignment, ranked probe candidates (unfiltered),
    * codes, per-query LUTs, exact baseline. Parameterized so the
    * ksub=64 and ksub=256 books replay through ONE text.
    */
  protected def pqRecallSharedSql(cb: Similarity.PqCodebook): String = {
    val sd = cb.subDim
    val values = pqCbValuesSql(cb)
    s"""WITH cb AS (SELECT sub, cid, ce FROM (VALUES $values) t(sub, cid, ce)),
           cc AS (SELECT vec_id AS ccid, CAST(embedding AS DOUBLE[]) AS ce2
                  FROM embeddings WHERE vec_id < 16),
           v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
           q AS (SELECT vec_id AS query_id, ve AS qe FROM v
                 WHERE vec_id IN (0, 1, 2, 3, 4)),
           sc AS (SELECT v.vec_id, cc.ccid,
                    round(list_cosine_similarity(v.ve, cc.ce2), 4) AS s
                  FROM v CROSS JOIN cc),
           assign AS (SELECT vec_id, ccid AS cell FROM (
               SELECT vec_id, ccid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ccid) AS rn
               FROM sc) WHERE rn = 1),
           pr AS (SELECT vec_id AS query_id, ccid AS cell, rn FROM (
               SELECT vec_id, ccid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ccid) AS rn
               FROM sc WHERE vec_id IN (0, 1, 2, 3, 4))),
           dist AS (SELECT v.vec_id, c.sub, c.cid,
               round(list_reduce(
                 [(v.ve[c.sub * $sd + i] - c.ce[i]) * (v.ve[c.sub * $sd + i] - c.ce[i])
                  for i in range(1, ${sd + 1})], (a, b) -> a + b), 6) AS dd
             FROM v CROSS JOIN cb c),
           codes AS (SELECT vec_id, sub, cid FROM (
               SELECT vec_id, sub, cid,
                 row_number() OVER (PARTITION BY vec_id, sub
                                    ORDER BY dd ASC, cid) AS rn
               FROM dist) WHERE rn = 1),
           lut AS (SELECT q.query_id, c.sub, c.cid,
               CAST(round(list_reduce(
                 [q.qe[c.sub * $sd + i] * c.ce[i] for i in range(1, ${sd + 1})],
                 (a, b) -> a + b) * 1000000.0, 0) AS BIGINT) AS l6
             FROM cb c CROSS JOIN q),
           exact AS (SELECT query_id, vec_id FROM (
               SELECT q.query_id, v.vec_id,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(v.ve, q.qe), 4) DESC,
                            v.vec_id) AS rn
               FROM v CROSS JOIN q) WHERE rn <= 10)"""
  }

  /** Per-query candidate ADC scores at probe width `np`, over the
    * shared CTEs — the inner aggregate both the plain and the
    * refined readouts rank.
    */
  protected def pqRecallCandSql(np: Int): String =
    s"""SELECT p.query_id, a.vec_id, sum(l.l6) AS s6
        FROM assign a
        JOIN (SELECT query_id, cell FROM pr WHERE rn <= $np) p
          ON p.cell = a.cell
        JOIN codes k ON k.vec_id = a.vec_id
        JOIN lut l ON l.query_id = p.query_id
                  AND l.sub = k.sub AND l.cid = k.cid
        GROUP BY 1, 2"""

  /** One truncation-recall readout at prefix length `d`, over the
    * static v/qv/exact CTEs of q_truncation_recall.
    */
  protected def truncationLevelSql(d: Int): String =
    s"""SELECT $d AS dims, e.query_id, count(*) AS n_exact,
          round(count(a.vec_id) * 1.0 / count(*), 4) AS recall
        FROM exact e LEFT JOIN (
          SELECT query_id, vec_id FROM (
            SELECT q.query_id, v.vec_id,
              row_number() OVER (PARTITION BY q.query_id
                ORDER BY round(list_cosine_similarity(
                  v.ve[1:$d], q.qe[1:$d]), 4) DESC, v.vec_id) AS rn
            FROM v CROSS JOIN qv q) WHERE rn <= 10) a
          ON a.query_id = e.query_id AND a.vec_id = e.vec_id
        GROUP BY 1, 2"""

  /** One recall readout at probe width `np`, over the shared CTEs. */
  protected def pqRecallLevelSql(np: Int): String =
    s"""SELECT $np AS n_probe, e.query_id, count(*) AS n_exact,
             round(count(a.vec_id) * 1.0 / count(*), 4) AS recall
           FROM exact e
           LEFT JOIN (
             SELECT query_id, vec_id FROM (
               SELECT s.query_id, s.vec_id,
                 row_number() OVER (PARTITION BY s.query_id
                   ORDER BY round(s.s6 / 1000000.0, 6) DESC, s.vec_id) AS rnk
               FROM (${pqRecallCandSql(np)}) s) WHERE rnk <= 10) a
             ON a.query_id = e.query_id AND a.vec_id = e.vec_id
           GROUP BY 1, 2"""

  protected def pqRecallOracle(sql: PqRecallSql => String): Oracle = Generated(() =>
    Option(lastOracleDir).flatMap(d => Option(pqCbCache.get(d)))
      .map(cb => sql(new PqRecallSql(cb))))

  /** The [[pqRecallOracle]] replays over one codebook. */
  protected final class PqRecallSql(cb: Similarity.PqCodebook) {
    private val shared = pqRecallSharedSql(cb)
    private def level(np: Int): String = pqRecallLevelSql(np)
    // the two-stage readout at shortlist depth R: shortlist R by
    // ADC per query, re-rank those ids by exact cosine, recall of
    // the re-ranked top-10; `tag` prepends the shortlist column for
    // the curve variant
    private def refinedLevel(r: Int, tag: Boolean): String =
      s"""SELECT ${if (tag) s"$r AS shortlist, " else ""}e.query_id,
             count(*) AS n_exact,
             round(count(a.vec_id) * 1.0 / count(*), 4) AS recall
           FROM exact e
           LEFT JOIN (
             SELECT query_id, vec_id FROM (
               SELECT sh.query_id, sh.vec_id,
                 row_number() OVER (PARTITION BY sh.query_id
                   ORDER BY round(list_cosine_similarity(v.ve, q.qe), 4) DESC,
                            sh.vec_id) AS rr
               FROM (SELECT query_id, vec_id FROM (
                       SELECT s.query_id, s.vec_id,
                         row_number() OVER (PARTITION BY s.query_id
                           ORDER BY round(s.s6 / 1000000.0, 6) DESC,
                                    s.vec_id) AS rnk
                       FROM (${pqRecallCandSql(2)}) s) WHERE rnk <= $r) sh
               JOIN v ON v.vec_id = sh.vec_id
               JOIN q ON q.query_id = sh.query_id) WHERE rr <= 10) a
             ON a.query_id = e.query_id AND a.vec_id = e.vec_id
           GROUP BY ${if (tag) "1, 2" else "1"}"""
    // the batched serve shares the per-query candidate replay:
    // batched ≡ Q single-query serves is the hash gate
    def multi: String =
      s"""$shared
             SELECT query_id, vec_id,
               round(s6 / 1000000.0, 6) AS pq_sim FROM (
               SELECT s.query_id, s.vec_id, s.s6,
                 row_number() OVER (PARTITION BY s.query_id
                   ORDER BY round(s.s6 / 1000000.0, 6) DESC, s.vec_id) AS rn
               FROM (${pqRecallCandSql(2)}) s) WHERE rn <= 10
             ORDER BY query_id, pq_sim DESC, vec_id"""
    def recall: String =
      s"""$shared
             SELECT query_id, n_exact, recall FROM (${level(2)})
             ORDER BY query_id"""
    def recallCurve: String =
      s"""$shared
             SELECT * FROM (
               ${level(1)} UNION ALL ${level(2)}
               UNION ALL ${level(4)} UNION ALL ${level(8)})
             ORDER BY n_probe, query_id"""
    // the batched two-stage serve shares the per-query refined
    // replay: batched ≡ 5 single refined serves is the hash gate
    def refinedMulti: String =
      s"""$shared
             SELECT query_id, vec_id, cos_sim FROM (
               SELECT sh.query_id, sh.vec_id,
                 round(list_cosine_similarity(v.ve, q.qe), 4) AS cos_sim,
                 row_number() OVER (PARTITION BY sh.query_id
                   ORDER BY round(list_cosine_similarity(v.ve, q.qe), 4) DESC,
                            sh.vec_id) AS rr
               FROM (SELECT query_id, vec_id FROM (
                       SELECT s.query_id, s.vec_id,
                         row_number() OVER (PARTITION BY s.query_id
                           ORDER BY round(s.s6 / 1000000.0, 6) DESC,
                                    s.vec_id) AS rnk
                       FROM (${pqRecallCandSql(2)}) s) WHERE rnk <= 40) sh
               JOIN v ON v.vec_id = sh.vec_id
               JOIN q ON q.query_id = sh.query_id) WHERE rr <= 10
             ORDER BY query_id, cos_sim DESC, vec_id"""
    def refinedRecall: String =
      s"""$shared
             SELECT query_id, n_exact, recall FROM (${refinedLevel(40, tag = false)})
             ORDER BY query_id"""
    def refinedCurve: String =
      s"""$shared
             SELECT * FROM (
               ${refinedLevel(10, tag = true)} UNION ALL ${refinedLevel(20, tag = true)}
               UNION ALL ${refinedLevel(40, tag = true)} UNION ALL ${refinedLevel(80, tag = true)})
             ORDER BY shortlist, query_id"""
  }

  /** Oracle for q_truncation_recall_rotated (generated — the
    * rotation prints as row literals): the replay projects every
    * vector and query through the SAME index-order dot folds and
    * re-ranks per prefix against the full-dim exact baseline.
    */
  protected def rotatedTruncationOracle: Option[String] = {
    Option(lastOracleDir).flatMap(dd => Option(rotationCache.get(dd))).map { rot =>
      val dim = rot.length
      val vals = rot.zipWithIndex.map { case (r, i) =>
        s"($i, [${r.mkString(",")}]::DOUBLE[])" }.mkString(", ")
      def lvl(d: Int) =
        s"""SELECT $d AS dims, e.query_id, count(*) AS n_exact,
              round(count(a.vec_id) * 1.0 / count(*), 4) AS recall
            FROM exact e LEFT JOIN (
              SELECT query_id, vec_id FROM (
                SELECT qa.query_id, pa.vec_id,
                  row_number() OVER (PARTITION BY qa.query_id
                    ORDER BY round(list_cosine_similarity(
                      pa.pv[1:$d], qa.qp[1:$d]), 4) DESC, pa.vec_id) AS rn
                FROM pa CROSS JOIN qa) WHERE rn <= 10) a
              ON a.query_id = e.query_id AND a.vec_id = e.vec_id
            GROUP BY 1, 2"""
      s"""WITH rot AS (SELECT row, rv FROM (VALUES $vals) t(row, rv)),
           v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
           qv AS (SELECT vec_id AS query_id, ve AS qe FROM v
                  WHERE vec_id IN (0, 1, 2, 3, 4)),
           proj AS (SELECT v.vec_id, r.row,
               list_reduce([v.ve[i] * r.rv[i] for i in range(1, ${dim + 1})],
                 (a, b) -> a + b) AS p
             FROM v CROSS JOIN rot r),
           pa AS (SELECT vec_id, list(p ORDER BY row) AS pv
                  FROM proj GROUP BY 1),
           qa AS (SELECT q.query_id, p.pv AS qp
                  FROM qv q JOIN pa p ON p.vec_id = q.query_id),
           exact AS (SELECT query_id, vec_id FROM (
               SELECT q.query_id, v.vec_id,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(v.ve, q.qe), 4) DESC,
                            v.vec_id) AS rn
               FROM v CROSS JOIN qv q) WHERE rn <= 10)
           SELECT * FROM (
             ${lvl(8)} UNION ALL ${lvl(16)} UNION ALL ${lvl(32)}
             UNION ALL ${lvl(64)})
           ORDER BY dims, query_id"""
    }
  }

  /** Oracle for q_truncation_drift (generated — BOTH rotations print
    * as row literals): the drifted corpus reconstructs in SQL (×4 is
    * IEEE-exact), each rotation projects every vector and query
    * through the same index-order folds, and the two per-prefix
    * rankings join against one exact full-dim baseline.
    */
  protected def truncationDriftOracle: Option[String] = {
    (for {
      dd <- Option(lastOracleDir)
      rotS <- Option(rotationCache.get(dd))
      rotF <- Option(rotationDriftCache.get(dd))
    } yield {
      val dim = rotS.length
      def rotVals(rot: Seq[Seq[Double]]): String =
        rot.zipWithIndex.map { case (r, i) =>
          s"($i, [${r.mkString(",")}]::DOUBLE[])" }.mkString(", ")
      def side(tag: String): String =
        s"""proj$tag AS (SELECT v.vec_id, r.row,
               list_reduce([v.ve[i] * r.rv[i] for i in range(1, ${dim + 1})],
                 (a, b) -> a + b) AS p
             FROM v CROSS JOIN rot$tag r),
           pa$tag AS (SELECT vec_id, list(p ORDER BY row) AS pv
                  FROM proj$tag GROUP BY 1),
           qa$tag AS (SELECT q.query_id, p.pv AS qp
                  FROM qv q JOIN pa$tag p ON p.vec_id = q.query_id)"""
      def lvl(tag: String, d: Int) =
        s"""SELECT $d AS dims, e.query_id, count(*) AS n_exact,
              round(count(a.vec_id) * 1.0 / count(*), 4) AS recall
            FROM exact e LEFT JOIN (
              SELECT query_id, vec_id FROM (
                SELECT qa.query_id, pa.vec_id,
                  row_number() OVER (PARTITION BY qa.query_id
                    ORDER BY round(list_cosine_similarity(
                      pa.pv[1:$d], qa.qp[1:$d]), 4) DESC, pa.vec_id) AS rn
                FROM pa$tag pa CROSS JOIN qa$tag qa) WHERE rn <= 10) a
              ON a.query_id = e.query_id AND a.vec_id = e.vec_id
            GROUP BY 1, 2"""
      s"""WITH rots AS (SELECT row, rv FROM (VALUES ${rotVals(rotS)}) t(row, rv)),
           rotf AS (SELECT row, rv FROM (VALUES ${rotVals(rotF)}) t(row, rv)),
           base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
                    FROM embeddings),
           v AS (SELECT vec_id, ve FROM base
                 UNION ALL
                 SELECT vec_id + 3000000,
                   [CASE WHEN i > 32 THEN ve[i] * 4.0 ELSE ve[i] END
                    for i in range(1, ${dim + 1})]
                 FROM base WHERE vec_id % 4 = 0),
           qv AS (SELECT vec_id AS query_id, ve AS qe FROM v
                  WHERE vec_id IN (3000000, 3000004, 3000008, 3000012, 3000016)),
           ${side("s")},
           ${side("f")},
           exact AS (SELECT query_id, vec_id FROM (
               SELECT q.query_id, v.vec_id,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(v.ve, q.qe), 4) DESC,
                            v.vec_id) AS rn
               FROM v CROSS JOIN qv q) WHERE rn <= 10)
           SELECT st.dims, st.query_id, st.n_exact,
             st.recall AS recall_stale, fr.recall AS recall_refreshed
           FROM (${lvl("s", 8)} UNION ALL ${lvl("s", 16)}) st
           JOIN (${lvl("f", 8)} UNION ALL ${lvl("f", 16)}) fr
             USING (dims, query_id)
           ORDER BY dims, query_id"""
    })
  }

  /** Oracle for q_pq_recall_wide — the ksub=256 book through the SAME
    * shared replay text as q_pq_recall (one SQL shape, two operating
    * points).
    */
  protected def pqWideRecallOracle: Option[String] = {
    Option(lastOracleDir).flatMap(d => Option(pqWideCbCache.get(d))).map { cb =>
      s"""${pqRecallSharedSql(cb)}
           SELECT query_id, n_exact, recall FROM (${pqRecallLevelSql(2)})
           ORDER BY query_id"""
    }
  }

  /** Oracles for the RESIDUAL-encoded PQ family (generated from the
    * residual codebook): the replay subtracts each vector's assigned
    * coarse centroid before encoding (exact IEEE arithmetic in both
    * engines), and the ADC score adds the per-cell integer term
    * round(dot(q, c_cell)·1e6) — dot(q,v) = dot(q,c) + dot(q,r)
    * decomposes exactly, so the residual serving path is hash-gated
    * end to end, including the no-gain-on-this-corpus recall numbers.
    */
  protected def residualPqOracle(sql: ResidualPqSql => String): Oracle = Generated(() =>
    Option(lastOracleDir).flatMap(d => Option(pqResidualCbCache.get(d)))
      .map(cb => sql(new ResidualPqSql(cb))))

  /** The [[residualPqOracle]] replays over one residual codebook. */
  protected final class ResidualPqSql(cb: Similarity.PqCodebook) {
    private val sd = cb.subDim
    private val dim = cb.m * sd
    private val values = pqCbValuesSql(cb)
    // the residual frame + encode + per-query LUTs, shared by both
    // readouts (single-query topk restricts q to vec 0)
    private def shared(qids: String) =
      s"""WITH cb AS (SELECT sub, cid, ce FROM (VALUES $values) t(sub, cid, ce)),
           cc AS (SELECT vec_id AS ccid, CAST(embedding AS DOUBLE[]) AS ce2
                  FROM embeddings WHERE vec_id < 16),
           v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
           q AS (SELECT vec_id AS query_id, ve AS qe FROM v
                 WHERE vec_id IN ($qids)),
           sc AS (SELECT v.vec_id, cc.ccid,
                    round(list_cosine_similarity(v.ve, cc.ce2), 4) AS s
                  FROM v CROSS JOIN cc),
           assign AS (SELECT vec_id, ccid AS cell FROM (
               SELECT vec_id, ccid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ccid) AS rn
               FROM sc) WHERE rn = 1),
           pr AS (SELECT vec_id AS query_id, ccid AS cell, rn FROM (
               SELECT vec_id, ccid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ccid) AS rn
               FROM sc WHERE vec_id IN ($qids))),
           rv AS (SELECT v.vec_id, a.cell,
                    [v.ve[i] - cc.ce2[i] for i in range(1, ${dim + 1})] AS re
                  FROM v JOIN assign a ON a.vec_id = v.vec_id
                         JOIN cc ON cc.ccid = a.cell),
           dist AS (SELECT rv.vec_id, c.sub, c.cid,
               round(list_reduce(
                 [(rv.re[c.sub * $sd + i] - c.ce[i]) * (rv.re[c.sub * $sd + i] - c.ce[i])
                  for i in range(1, ${sd + 1})], (a, b) -> a + b), 6) AS dd
             FROM rv CROSS JOIN cb c),
           codes AS (SELECT vec_id, sub, cid FROM (
               SELECT vec_id, sub, cid,
                 row_number() OVER (PARTITION BY vec_id, sub
                                    ORDER BY dd ASC, cid) AS rn
               FROM dist) WHERE rn = 1),
           lut AS (SELECT q.query_id, c.sub, c.cid,
               CAST(round(list_reduce(
                 [q.qe[c.sub * $sd + i] * c.ce[i] for i in range(1, ${sd + 1})],
                 (a, b) -> a + b) * 1000000.0, 0) AS BIGINT) AS l6
             FROM cb c CROSS JOIN q),
           ct AS (SELECT q.query_id, cc.ccid, CAST(round(list_reduce(
                 [q.qe[i] * cc.ce2[i] for i in range(1, ${dim + 1})],
                 (a, b) -> a + b) * 1000000.0, 0) AS BIGINT) AS c6
             FROM cc CROSS JOIN q),
           cand AS (SELECT p.query_id, a.vec_id, s.s6r + ct.c6 AS s6
             FROM (SELECT l.query_id, k.vec_id, sum(l.l6) AS s6r
                   FROM codes k JOIN lut l ON l.sub = k.sub AND l.cid = k.cid
                   GROUP BY 1, 2) s
             JOIN assign a ON a.vec_id = s.vec_id
             JOIN (SELECT query_id, cell FROM pr WHERE rn <= 2) p
               ON p.query_id = s.query_id AND p.cell = a.cell
             JOIN ct ON ct.query_id = s.query_id AND ct.ccid = a.cell)"""
    def knn: String =
      s"""${shared("0")}
             SELECT vec_id, round(s6 / 1000000.0, 6) AS pq_sim FROM cand
             ORDER BY pq_sim DESC, vec_id LIMIT 10"""
    def recall: String =
      s"""${shared("0, 1, 2, 3, 4")},
             exact AS (SELECT query_id, vec_id FROM (
                 SELECT q.query_id, v.vec_id,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY round(list_cosine_similarity(v.ve, q.qe), 4) DESC,
                              v.vec_id) AS rn
                 FROM v CROSS JOIN q) WHERE rn <= 10)
             SELECT e.query_id, count(*) AS n_exact,
               round(count(a.vec_id) * 1.0 / count(*), 4) AS recall
             FROM exact e
             LEFT JOIN (
               SELECT query_id, vec_id FROM (
                 SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY round(s6 / 1000000.0, 6) DESC, vec_id) AS rnk
                 FROM cand) WHERE rnk <= 10) a
               ON a.query_id = e.query_id AND a.vec_id = e.vec_id
             GROUP BY 1 ORDER BY 1"""
    // the batched residual serve shares the per-query candidate
    // replay: batched ≡ 5 single serves is the hash gate
    def multi: String =
      s"""${shared("0, 1, 2, 3, 4")}
             SELECT query_id, vec_id,
               round(s6 / 1000000.0, 6) AS pq_sim FROM (
               SELECT query_id, vec_id, s6,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY round(s6 / 1000000.0, 6) DESC, vec_id) AS rn
               FROM cand) WHERE rn <= 10
             ORDER BY query_id, pq_sim DESC, vec_id"""
    // the residual two-stage: the SAME residual-ADC candidates
    // shortlist 40, the true float rows of those ids re-rank
    def refined: String =
      s"""${shared("0")},
             short AS (SELECT vec_id FROM (
                 SELECT vec_id,
                   row_number() OVER (
                     ORDER BY round(s6 / 1000000.0, 6) DESC, vec_id) AS rn
                 FROM cand) WHERE rn <= 40)
             SELECT v2.vec_id,
               round(list_cosine_similarity(v2.ve, q.qe), 4) AS cos_sim
             FROM v v2 JOIN short ON short.vec_id = v2.vec_id CROSS JOIN q
             ORDER BY cos_sim DESC, v2.vec_id LIMIT 10"""
    def refinedRecall: String =
      s"""${shared("0, 1, 2, 3, 4")},
             short AS (SELECT query_id, vec_id FROM (
                 SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY round(s6 / 1000000.0, 6) DESC, vec_id) AS rn
                 FROM cand) WHERE rn <= 40),
             rr AS (SELECT sh.query_id, v2.vec_id,
                 round(list_cosine_similarity(v2.ve, q.qe), 4) AS cos_sim
               FROM short sh JOIN v v2 ON v2.vec_id = sh.vec_id
               JOIN q ON q.query_id = sh.query_id),
             exact AS (SELECT query_id, vec_id FROM (
                 SELECT q.query_id, v.vec_id,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY round(list_cosine_similarity(v.ve, q.qe), 4) DESC,
                              v.vec_id) AS rn
                 FROM v CROSS JOIN q) WHERE rn <= 10)
             SELECT e.query_id, count(*) AS n_exact,
               round(count(a.vec_id) * 1.0 / count(*), 4) AS recall
             FROM exact e
             LEFT JOIN (
               SELECT query_id, vec_id FROM (
                 SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cos_sim DESC, vec_id) AS rr2
                 FROM rr) WHERE rr2 <= 10) a
               ON a.query_id = e.query_id AND a.vec_id = e.vec_id
             GROUP BY 1 ORDER BY 1"""
  }

  /** Oracle for q_pq_recluster_recall (generated — needs the drifted
    * centroids AND both codebooks from this JVM): the drifted corpus
    * rebuilds in SQL, BOTH encode+route+ADC pipelines replay — stale
    * (seed cells + corpus codebook) and refreshed (drift-seeded Lloyd
    * cells + drift-retrained codebook, both printed as literals) —
    * against the shared exact float baseline, so the drop→recovery
    * recalls are each hash-gated numbers.
    */
  protected def pqReclusterRecallOracle: Option[String] = {
    for {
      d <- Option(lastOracleDir)
      cbStale <- Option(pqCbCache.get(d))
      cbFresh <- Option(pqDriftedCbCache.get(d))
      cents <- Option(ivfDriftedCents.get(d))
    } yield {
      val sd = cbStale.subDim
      val vs = pqCbValuesSql(cbStale)
      val vf = pqCbValuesSql(cbFresh)
      val cvals = cents.zipWithIndex
        .map { case (c, i) => s"($i, [${c.mkString(",")}]::DOUBLE[])" }
        .mkString(", ")
      val qids = "2000000, 2000010, 2000020, 2000030, 2000040"
      // one (dist → codes → lut → s6 → approx) pipeline per config,
      // parameterized by codebook/assignment/probe CTE names
      def adcSide(tag: String, book: String): String =
        s"""dist$tag AS (SELECT v.vec_id, c.sub, c.cid,
               round(list_reduce(
                 [(v.ve[c.sub * $sd + i] - c.ce[i]) * (v.ve[c.sub * $sd + i] - c.ce[i])
                  for i in range(1, ${sd + 1})], (a, b) -> a + b), 6) AS dd
             FROM v CROSS JOIN $book c),
           codes$tag AS (SELECT vec_id, sub, cid FROM (
               SELECT vec_id, sub, cid,
                 row_number() OVER (PARTITION BY vec_id, sub
                                    ORDER BY dd ASC, cid) AS rn
               FROM dist$tag) WHERE rn = 1),
           lut$tag AS (SELECT q.query_id, c.sub, c.cid,
               CAST(round(list_reduce(
                 [q.qe[c.sub * $sd + i] * c.ce[i] for i in range(1, ${sd + 1})],
                 (a, b) -> a + b) * 1000000.0, 0) AS BIGINT) AS l6
             FROM $book c CROSS JOIN q),
           s6$tag AS (SELECT p.query_id, a.vec_id, sum(l.l6) AS s6
               FROM assign$tag a
               JOIN probes$tag p ON p.cell = a.cell
               JOIN codes$tag k ON k.vec_id = a.vec_id
               JOIN lut$tag l ON l.query_id = p.query_id
                             AND l.sub = k.sub AND l.cid = k.cid
               GROUP BY 1, 2),
           approx$tag AS (SELECT query_id, vec_id FROM (
               SELECT query_id, vec_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY round(s6 / 1000000.0, 6) DESC, vec_id) AS rn
               FROM s6$tag) WHERE rn <= 10)"""
      s"""WITH cbs AS (SELECT sub, cid, ce FROM (VALUES $vs) t(sub, cid, ce)),
           cbf AS (SELECT sub, cid, ce FROM (VALUES $vf) t(sub, cid, ce)),
           base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
                    FROM embeddings),
           v AS (SELECT vec_id, ve FROM base
                 UNION ALL
                 SELECT vec_id + 2000000, list_transform(ve, x -> -x)
                 FROM base WHERE vec_id % 5 = 0),
           ccb AS (SELECT vec_id AS ccid, ve AS ce2 FROM base
                   WHERE vec_id < 16),
           cca AS (SELECT ccid, ce2 FROM (VALUES $cvals) t(ccid, ce2)),
           q AS (SELECT vec_id AS query_id, ve AS qe FROM v
                 WHERE vec_id IN ($qids)),
           scb AS (SELECT v.vec_id, ccb.ccid,
                     round(list_cosine_similarity(v.ve, ccb.ce2), 4) AS s
                   FROM v CROSS JOIN ccb),
           sca AS (SELECT v.vec_id, cca.ccid,
                     round(list_cosine_similarity(v.ve, cca.ce2), 4) AS s
                   FROM v CROSS JOIN cca),
           assignb AS (SELECT vec_id, ccid AS cell FROM (
               SELECT vec_id, ccid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ccid) AS rn
               FROM scb) WHERE rn = 1),
           assigna AS (SELECT vec_id, ccid AS cell FROM (
               SELECT vec_id, ccid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ccid) AS rn
               FROM sca) WHERE rn = 1),
           probesb AS (SELECT vec_id AS query_id, ccid AS cell FROM (
               SELECT vec_id, ccid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ccid) AS rn
               FROM scb WHERE vec_id IN ($qids)) WHERE rn <= 2),
           probesa AS (SELECT vec_id AS query_id, ccid AS cell FROM (
               SELECT vec_id, ccid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ccid) AS rn
               FROM sca WHERE vec_id IN ($qids)) WHERE rn <= 2),
           ${adcSide("b", "cbs")},
           ${adcSide("a", "cbf")},
           exact AS (SELECT query_id, vec_id FROM (
               SELECT q.query_id, v.vec_id,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(v.ve, q.qe), 4) DESC,
                            v.vec_id) AS rn
               FROM v CROSS JOIN q) WHERE rn <= 10)
           SELECT e.query_id, count(*) AS n_exact,
             round(count(ab.vec_id) * 1.0 / count(*), 4) AS recall_before,
             round(count(aa.vec_id) * 1.0 / count(*), 4) AS recall_after
           FROM exact e
           LEFT JOIN approxb ab
             ON ab.query_id = e.query_id AND ab.vec_id = e.vec_id
           LEFT JOIN approxa aa
             ON aa.query_id = e.query_id AND aa.vec_id = e.vec_id
           GROUP BY 1 ORDER BY 1"""
    }
  }

}
