package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import org.apache.spark.sql.functions._

import graft.cdc.Cdc
import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.multimodal.Multimodal
import graft.ops._
import graft.quality.RuleBasedScorer
import graft.similarity.Similarity
import graft.textanalysis.TextAnalysis

import EntryInfra._

/** Search, BM25 index family, retrieval eval, hybrid stack — one module of the per-family SparkEntry split (round 14):
  * this family's `Seq[Query]`, each query declared once beside its
  * oracle decision, plus the builders and generated oracles only
  * this family uses. Aggregated by [[SparkEntry]].
  */
private[graft] trait SearchEntries extends PqEntries {

  protected def searchQueries: Seq[Query] = Seq(
    // §2.10 GET /search — scored search + filters + total + page
    Query("q_search", (s, d) => SearchOps.search(Tables.documents(s, d),
      "merge", lang = Some("en"), minChars = Some(100L), size = 10),
      Sql("""WITH m AS (
           SELECT doc_id, lang, n_chars,
             2 * CAST((length(source) - length(replace(source,'merge','')))/5 AS BIGINT)
               + CAST((length(text) - length(replace(text,'merge','')))/5 AS BIGINT) AS score
           FROM documents WHERE lang = 'en' AND n_chars >= 100)
         SELECT doc_id, lang, n_chars, score, count(*) OVER () AS total_hits
         FROM m WHERE score > 0
         ORDER BY score DESC, doc_id LIMIT 10""")),
    // §2.5 W2 — the reference search API's from+size offset paging
    // (services/search/app/main.py:79-80,114-115): page 2 of the
    // q_search result set, total_hits unchanged
    Query("q_search_page2", (s, d) => SearchOps.search(Tables.documents(s, d),
      "merge", lang = Some("en"), minChars = Some(100L), from = 10, size = 10),
      Sql("""WITH m AS (
           SELECT doc_id, lang, n_chars,
             2 * CAST((length(source) - length(replace(source,'merge','')))/5 AS BIGINT)
               + CAST((length(text) - length(replace(text,'merge','')))/5 AS BIGINT) AS score
           FROM documents WHERE lang = 'en' AND n_chars >= 100)
         SELECT doc_id, lang, n_chars, score, count(*) OVER () AS total_hits
         FROM m WHERE score > 0
         ORDER BY score DESC, doc_id LIMIT 10 OFFSET 10""")),
    // §2.7 F3 — fuzziness AUTO via per-token levenshtein
    Query("q_search_fuzzy", (s, d) => SearchOps.search(Tables.documents(s, d),
      "mergee", fuzzy = true, size = 20),
      Sql("""WITH m AS (
           SELECT doc_id, lang, n_chars,
             2 * len(list_filter(string_split(source,' '), x -> levenshtein(x,'mergee') <= 2))
               + len(list_filter(string_split(text,' '), x -> levenshtein(x,'mergee') <= 2)) AS score
           FROM documents)
         SELECT doc_id, lang, n_chars, score, count(*) OVER () AS total_hits
         FROM m WHERE score > 0
         ORDER BY score DESC, doc_id LIMIT 20""")),
    // §2.7 F4 — highlight
    Query("q_search_highlight", (s, d) =>
      SearchOps.searchWithHighlight(Tables.documents(s, d), "window", 10),
      Sql("""WITH m AS (
           SELECT doc_id,
             2 * CAST((length(source) - length(replace(source,'window','')))/6 AS BIGINT)
               + CAST((length(text) - length(replace(text,'window','')))/6 AS BIGINT) AS score,
             replace(substring(text,1,80), 'window', '<em>window</em>') AS snippet
           FROM documents)
         SELECT doc_id, score, snippet FROM m WHERE score > 0
         ORDER BY score DESC, doc_id LIMIT 10""")),
    // BM25 ranking (the scoring family behind the reference's ES) —
    // exact, reproducible, fully oracled
    Query("q_search_bm25", (s, d) =>
      SearchOps.searchBm25(Tables.documents(s, d), Seq("merge", "query"), 10),
      Sql("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         dd AS (SELECT doc_id, len(ws) AS dl, ws FROM d),
         stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dd),
         tf AS (SELECT doc_id, dl, term, count(*) AS tf
                FROM (SELECT doc_id, dl, unnest(ws) AS term FROM dd)
                WHERE term IN ('merge', 'query')
                GROUP BY doc_id, dl, term),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
         SELECT doc_id,
           round(sum(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6)
             * (tf * (1.2 + 1.0))
             / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25
         FROM tf JOIN dfreq USING (term) CROSS JOIN stats
         GROUP BY doc_id
         ORDER BY bm25 DESC, doc_id LIMIT 10""")),
    // The SAME ranking served from the build-once inverted-file
    // artifact: literal term-hash buckets prune partitions, df
    // re-aggregates from the pruned postings — no corpus tokenize
    // ...and from the TERM-BUCKETED postings layout (round 16 — the
    // lexical twin of the bucketed re-rank fetch: the df
    // re-aggregation rides the write-time bucket layout with ZERO
    // exchange and the term predicate prunes bucket FILES, surviving
    // term counts that defeat directory pruning). Bucketed ≡ path ≡
    // one-shot: shares q_search_bm25's replay verbatim
    Query("q_search_bm25_bucketed", (s, d) =>
      SearchOps.searchBm25FromBucketedPostings(s, builtBm25Index(s, d),
        builtBm25BucketedPostings(s, d), Seq("merge", "query"), 10),
      // the TERM-bucketed postings layout must rank identically to
      // the path layout — same one-shot replay gates both
      SameAs("q_search_bm25")),
    Query("q_search_bm25_indexed", (s, d) =>
      SearchOps.searchBm25FromIndex(s, builtBm25Index(s, d),
        Seq("merge", "query"), 10),
      // the indexed serving path must agree with the one-shot ranking,
      // so its oracle IS the q_search_bm25 replay
      SameAs("q_search_bm25")),
    // Index maintenance for text: the same served ranking over an
    // index built as base-write + batch-APPEND (postings land in the
    // existing term-bucket directories; corpus scalars merge from
    // stored exact longs) — append ≡ rebuild bit-for-bit, gated by
    // sharing the one-shot operator's oracle
    Query("q_search_bm25_incremental", (s, d) =>
      SearchOps.searchBm25FromIndex(s, builtBm25IncIndex(s, d),
        Seq("merge", "query"), 10),
      // the incrementally-assembled index shares the one-shot BM25
      // replay verbatim: append ≡ rebuild is the operator's exactness
      // claim, so the oracle for the appended index IS the corpus oracle
      SameAs("q_search_bm25")),
    // SNAPSHOT read: the SAME incremental index served as of its
    // BASE batch only — pure batch_id partition pruning; the ranking
    // must equal a rebuild on the base documents alone, df/avgdl
    // included, as if the append never happened. Time travel under
    // continuous ingestion, no copy, no restore
    Query("q_search_bm25_asof", (s, d) =>
      SearchOps.searchBm25FromIndexAsOf(s, builtBm25IncIndex(s, d),
        Seq("merge", "query"), 10, Seq("build")),
      // snapshot replay: BM25 rebuilt on the BASE batch's documents
      // alone (doc_id % 8 <> 5 is builtBm25IncIndex's base split) —
      // the as-of read of the appended index must reproduce the
      // pre-append index bit-for-bit
      Sql("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents WHERE doc_id % 8 <> 5),
         dd AS (SELECT doc_id, len(ws) AS dl, ws FROM d),
         stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dd),
         tf AS (SELECT doc_id, dl, term, count(*) AS tf
                FROM (SELECT doc_id, dl, unnest(ws) AS term FROM dd)
                WHERE term IN ('merge', 'query')
                GROUP BY doc_id, dl, term),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
         SELECT doc_id,
           round(sum(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6)
             * (tf * (1.2 + 1.0))
             / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25
         FROM tf JOIN dfreq USING (term) CROSS JOIN stats
         GROUP BY doc_id
         ORDER BY bm25 DESC, doc_id LIMIT 10""")),
    // The index's ingestion HISTORY read from the stats ledger — the
    // audit behind as-of serving: one exact (n_docs, sum_dl) row per
    // batch; the oracle re-derives each batch's contribution from
    // its document split, so ledger drift fails the hash
    Query("q_search_bm25_history", (s, d) =>
      SearchOps.bm25IndexHistory(s, builtBm25IncIndex(s, d)),
      // ledger replay: each batch's exact (n_docs, sum_dl) from its
      // own document split — "build" = doc_id % 8 <> 5, "inc1" = the
      // appended eighth
      Sql("""WITH d AS (SELECT doc_id,
             len(string_split(text, ' ')) AS dl FROM documents)
         SELECT 'build' AS batch_id, count(*) AS n_docs,
           CAST(sum(dl) AS BIGINT) AS sum_dl
         FROM d WHERE doc_id % 8 <> 5
         UNION ALL
         SELECT 'inc1' AS batch_id, count(*) AS n_docs,
           CAST(sum(dl) AS BIGINT) AS sum_dl
         FROM d WHERE doc_id % 8 = 5
         ORDER BY batch_id""")),
    // Index maintenance: ERASURE — docs ≡ 3 mod 7 tombstoned out of
    // the full-corpus index (O(batch): tombstones + a pruned doclens
    // read feeding an exact negative ledger row; postings untouched).
    // The oracle replays BM25 on the REMAINING corpus — df, avgdl,
    // and the ranking must all re-derive as if rebuilt
    Query("q_search_bm25_deleted", (s, d) =>
      SearchOps.searchBm25FromIndex(s, builtBm25DelIndex(s, d),
        Seq("merge", "query"), 10),
      // erasure replay: BM25 rebuilt on the REMAINING corpus — df,
      // avgdl, and the ranking all re-derive as if the deleted docs
      // were never indexed; the tombstoned index must match exactly
      Sql("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents WHERE doc_id % 7 <> 3),
         dd AS (SELECT doc_id, len(ws) AS dl, ws FROM d),
         stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dd),
         tf AS (SELECT doc_id, dl, term, count(*) AS tf
                FROM (SELECT doc_id, dl, unnest(ws) AS term FROM dd)
                WHERE term IN ('merge', 'query')
                GROUP BY doc_id, dl, term),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
         SELECT doc_id,
           round(sum(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6)
             * (tf * (1.2 + 1.0))
             / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25
         FROM tf JOIN dfreq USING (term) CROSS JOIN stats
         GROUP BY doc_id
         ORDER BY bm25 DESC, doc_id LIMIT 10""")),
    // RETENTION for the lexical index: two append windows + an
    // erasure spanning folded AND kept docs, then
    // compactBm25IndexKeeping folds w1 + the erasure while w2 stays
    // addressable. Serving is invariant (shares the erasure replay);
    // the kept-part of the folded correction re-materializes as the
    // "retained" tombstones + "del-retained" ledger row
    Query("q_search_bm25_retention", (s, d) =>
      SearchOps.searchBm25FromIndex(s, builtBm25RetIndex(s, d),
        Seq("merge", "query"), 10),
      // retention leaves lexical serving invariant too — the
      // retained index shares the erasure replay
      SameAs("q_search_bm25_deleted")),
    // ...the fold, hash-gated: as-of("build") AFTER retention = the
    // folded window's live docs against folded-only scalars
    Query("q_search_bm25_retention_asof", (s, d) =>
      SearchOps.searchBm25FromIndexAsOf(s, builtBm25RetIndex(s, d),
        Seq("merge", "query"), 10, Seq("build")),
      // retention as-of("build"): BM25 rebuilt on the FOLDED window's
      // live docs — everything except the kept ≡6 mod 8 batch, minus
      // the physically-applied ≡3 mod 7 erasure — against folded-only
      // scalars (the self-consistency the correction split buys)
      Sql("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents
                    WHERE doc_id % 8 <> 6 AND doc_id % 7 <> 3),
         dd AS (SELECT doc_id, len(ws) AS dl, ws FROM d),
         stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dd),
         tf AS (SELECT doc_id, dl, term, count(*) AS tf
                FROM (SELECT doc_id, dl, unnest(ws) AS term FROM dd)
                WHERE term IN ('merge', 'query')
                GROUP BY doc_id, dl, term),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
         SELECT doc_id,
           round(sum(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6)
             * (tf * (1.2 + 1.0))
             / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25
         FROM tf JOIN dfreq USING (term) CROSS JOIN stats
         GROUP BY doc_id
         ORDER BY bm25 DESC, doc_id LIMIT 10""")),
    // ...and the ledger split itself: every post-retention stats row
    // must state exactly its own partitions' contribution — the
    // folded build total, w2's raw contribution, and the exact
    // negative "del-retained" correction for w2's erased docs
    Query("q_search_bm25_retention_history", (s, d) =>
      SearchOps.bm25IndexHistory(s, builtBm25RetIndex(s, d)),
      // retention ledger replay: the folded build total (folded docs
      // minus their physically-applied erasure), the kept w2 batch's
      // raw contribution, and the exact NEGATIVE "del-retained"
      // correction for w2's erased docs — every row must state exactly
      // its own partitions' contribution
      Sql("""WITH d AS (SELECT doc_id,
             len(string_split(text, ' ')) AS dl FROM documents)
         SELECT 'build' AS batch_id, count(*) AS n_docs,
           CAST(sum(dl) AS BIGINT) AS sum_dl
         FROM d WHERE doc_id % 8 <> 6 AND doc_id % 7 <> 3
         UNION ALL
         SELECT 'del-retained' AS batch_id, -count(*) AS n_docs,
           CAST(-sum(dl) AS BIGINT) AS sum_dl
         FROM d WHERE doc_id % 8 = 6 AND doc_id % 7 = 3
         UNION ALL
         SELECT 'w2' AS batch_id, count(*) AS n_docs,
           CAST(sum(dl) AS BIGINT) AS sum_dl
         FROM d WHERE doc_id % 8 = 6
         ORDER BY batch_id""")),
    // STREAMING ERASURE under the query gate: the same batch
    // forgotten through two checkpointed deletion-request
    // micro-batches (bm25DeleteSink) — shares the deleted oracle, so
    // sink-erased ≡ rebuild-on-remaining is the hash itself
    Query("q_search_bm25_stream_deleted", (s, d) =>
      SearchOps.searchBm25FromIndex(s,
        builtBm25StrDelIndex(s, d) + "/idx",
        Seq("merge", "query"), 10),
      // streaming erasure ≡ batch erasure ≡ rebuild-on-remaining
      SameAs("q_search_bm25_deleted")),
    // ...and the same ranking after COMPACTION makes the deletions
    // physical (postings/doclens rewritten without the tombstoned
    // docs, ledger collapsed, tombstones dropped) — compacted ≡
    // tombstoned is gated by sharing the deleted oracle verbatim
    Query("q_search_bm25_compacted", (s, d) =>
      SearchOps.searchBm25FromIndex(s, builtBm25CompactIndex(s, d),
        Seq("merge", "query"), 10),
      // compaction must not change a single served value — the
      // compacted index shares the tombstoned index's oracle
      SameAs("q_search_bm25_deleted")),
    // Streaming ingestion into the live text index: the SAME served
    // ranking over an index the bm25IndexSink built from three
    // checkpointed micro-batches — stream-built ≡ one-shot rebuild,
    // gated by sharing the corpus oracle
    Query("q_search_bm25_streamed", (s, d) =>
      SearchOps.searchBm25FromIndex(s, builtBm25StreamedIndex(s, d) + "/idx",
        Seq("merge", "query"), 10),
      // the stream-built index shares the one-shot corpus replay too:
      // stream-built ≡ rebuild is the sink's exactness claim
      SameAs("q_search_bm25")),
    // Retrieval operating-point eval: MRR / precision@10 / recall@10
    // of the BM25 ranking for 3 eval queries against a deterministic
    // graded-relevance rule (every query term ≥3 occurrences) — the
    // annRecall / classifier-PR convention applied to text retrieval;
    // one corpus tokenize shared across the whole eval batch
    Query("q_retrieval_eval", (s, d) =>
      SearchOps.retrievalEval(Tables.documents(s, d),
        Seq("merge+query" -> Seq("merge", "query"),
          "sort+window" -> Seq("sort", "window"),
          "spark+data" -> Seq("spark", "data")), 10),
      // retrieval-eval replay: the BM25 math verbatim (idf rounded to
      // 6 before the product, score to 4) replicated per eval query via
      // the (query, term) values frame; relevance = every query term at
      // tf ≥ 3 from the SAME tf aggregation; MRR / P@10 / R@10 as exact
      // rationals in DOUBLE arithmetic (CAST, not decimal literals)
      Sql(retrievalEvalSql)),
    // The same eval SERVED from the written index: eval-term buckets
    // prune the postings scan and the scalars come from the stats
    // ledger — the eval batch never tokenizes (or reads) the corpus;
    // identical output gated by sharing the corpus oracle
    Query("q_retrieval_eval_indexed", (s, d) =>
      SearchOps.retrievalEvalFromIndex(s, builtBm25Index(s, d),
        Seq("merge+query" -> Seq("merge", "query"),
          "sort+window" -> Seq("sort", "window"),
          "spark+data" -> Seq("spark", "data")), 10),
      // the index-served eval shares the corpus replay: pruned postings
      // carry the same tf/df/scalars the one-shot pass derives
      SameAs("q_retrieval_eval")),
    // The eval AT A SNAPSHOT (round-11 verdict #7): the same metric
    // batch against the incrementally-built index as of its base
    // batch — "did last week's index serve worse?" under continuous
    // ingestion. The oracle replays the full metric SQL on the base
    // document split, so snapshot-eval ≡ eval-on-rebuild-at-history
    // is the hash gate
    Query("q_retrieval_eval_asof", (s, d) =>
      SearchOps.retrievalEvalFromIndexAsOf(s, builtBm25IncIndex(s, d),
        Seq("merge+query" -> Seq("merge", "query"),
          "sort+window" -> Seq("sort", "window"),
          "spark+data" -> Seq("spark", "data")), 10, Seq("build")),
      // the full metric replay restricted to the base batch's
      // document split — derived from the one-shot SQL so the metric
      // math can never drift between the two gates
      Sql(derivedSql(retrievalEvalSql,
        "d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),",
        "d AS (SELECT doc_id, string_split(text, ' ') AS ws " +
          "FROM documents WHERE doc_id % 8 <> 5),"))),
    // Hybrid retrieval: BM25 and cosine rankings fused by reciprocal
    // rank (RRF) — integer ranks, no score normalization
    Query("q_hybrid_search", (s, d) =>
      // lexical branch from the build-once BM25 index (row-identical
      // to the one-shot tokenize, which q_search_bm25 still exercises)
      SearchOps.hybridSearchIndexed(builtBm25Index(s, d),
        Tables.embeddings(s, d), Seq("merge", "query"), 0L, 20),
      // RRF fusion: both branch rankings replayed top-50, reciprocal
      // terms as IEEE doubles (CAST, not decimal literals) in a fixed
      // addition order — engine-identical bits before the round
      Sql("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         dd AS (SELECT doc_id, len(ws) AS dl, ws FROM d),
         stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dd),
         tf AS (SELECT doc_id, dl, term, count(*) AS tf
                FROM (SELECT doc_id, dl, unnest(ws) AS term FROM dd)
                WHERE term IN ('merge', 'query')
                GROUP BY doc_id, dl, term),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         bm AS (SELECT doc_id,
             round(sum(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6)
               * (tf * (1.2 + 1.0))
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25
           FROM tf JOIN dfreq USING (term) CROSS JOIN stats
           GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 50),
         lex AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
               AS INTEGER) AS lex_rank FROM bm),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
               FROM embeddings),
         knn AS (SELECT vec_id,
             round(list_cosine_similarity(ve,
               (SELECT ve FROM v WHERE vec_id = 0)), 4) AS cos_sim
           FROM v ORDER BY cos_sim DESC, vec_id LIMIT 50),
         sem AS (SELECT vec_id AS doc_id,
             CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id)
               AS INTEGER) AS sem_rank FROM knn)
         SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
           lex_rank, sem_rank,
           round(coalesce(CAST(1 AS DOUBLE) / (60 + lex_rank), 0.0) +
                 coalesce(CAST(1 AS DOUBLE) / (60 + sem_rank), 0.0), 6) AS rrf
         FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
         ORDER BY rrf DESC, doc_id LIMIT 20""")),
    // The FULLY-SERVED hybrid — the complete production retrieval
    // stack with no corpus pass on either branch: lexical top-20 from
    // the BM25 inverted file, semantic top-20 from the IVF-PQ store
    // via two-stage serving (pruned 8-byte ADC shortlist of 40 →
    // exact re-rank via bounded point lookups), RRF-fused. Per-query
    // I/O = term buckets + nProbe code cells + 40 float rows.
    // Generated oracle replays BOTH branches AND the fusion
    Query("q_hybrid_compressed", (s, d) =>
      SearchOps.hybridSearchServed(s, builtBm25Index(s, d),
        s.read.parquet(builtPqIvfIndex(s, d)), Tables.embeddings(s, d),
        seedCents16(s, d), pqCodebookFor(s, d), Seq("merge", "query"),
        queryVec0(s, d), 10),
      pqOracle(_.hybridCompressed)),
    // The hybrid stack's OPERATING POINT (round-13 verdict #1):
    // MRR/P@10/R@10 of the fully-served fused ranking for 3 eval
    // queries against the SAME deterministic relevance rule — and
    // through the SAME exact-rational metric tail — as
    // q_retrieval_eval, so the lexical eval beside it is directly
    // comparable: what does RRF fusion do to end-to-end quality?
    // Generated oracle replays both branches, the fusion, the
    // relevance rule, and the metrics
    Query("q_hybrid_eval", (s, d) =>
      SearchOps.hybridEval(s, builtBm25Index(s, d),
        s.read.parquet(builtPqIvfIndex(s, d)), Tables.embeddings(s, d),
        seedCents16(s, d), pqCodebookFor(s, d), hybridEvalQueries, 10),
      hybridHealthyOracle(_.eval)),
    // ...and the DRIFT story for the fused stack: the semantic branch
    // serves the DRIFTED corpus (the q_pq_recluster_recall fixture)
    // through the stale pre-drift PQ index vs the reclustered one,
    // while the lexical branch and the relevance rule stay on the
    // un-drifted documents — measuring whether lexical fusion masks
    // semantic drift end-to-end, and what the recluster buys back
    Query("q_hybrid_eval_drift", (s, d) => {
      val de = driftedEmbeddings(s, d)
      val stale = SearchOps.hybridEval(s, builtBm25Index(s, d),
        s.read.parquet(builtPqDriftStaleIndex(s, d)), de,
        seedCents16(s, d), pqCodebookFor(s, d), hybridEvalQueries, 10)
      val fresh = SearchOps.hybridEval(s, builtBm25Index(s, d),
        s.read.parquet(builtPqDriftFreshIndex(s, d)), de,
        driftedCentroids(s, d), driftedPqCodebook(s, d),
        hybridEvalQueries, 10)
      stale.withColumn("state", lit("1-stale"))
        .unionByName(fresh.withColumn("state", lit("2-refreshed")))
        .select(col("state"), col("query_label"), col("n_relevant"),
          col("n_hit"), col("first_rank"), col("mrr"), col("p_at_k"),
          col("r_at_k"))
        .orderBy(col("state"), col("query_label"))
    },
      hybridDriftOracle(_.eval)),
    // The measurement q_hybrid_eval_drift's lexical rule CANNOT make
    // (its stale ≡ refreshed rows are the finding: fusion is
    // invariant to which irrelevant candidates the semantic branch
    // supplies): fused recall against the exact SEMANTIC baseline
    // for DRIFTED queries — the stale branch's routing loss reaches
    // the fused number, and the lexical branch's fixed share of the
    // fused slots quantifies how much fusion dampens both the drop
    // and the recluster's recovery vs the pure-semantic 0.32→0.44
    Query("q_hybrid_drift_recall", (s, d) => {
      val de = driftedEmbeddings(s, d)
      val dq = hybridEvalQueries.zip(Seq(2000000L, 2000010L, 2000020L))
        .map { case ((l, ts, _), vid) => (l, ts, vid) }
      val stale = SearchOps.hybridSemanticRecall(s, builtBm25Index(s, d),
        s.read.parquet(builtPqDriftStaleIndex(s, d)), de,
        seedCents16(s, d), pqCodebookFor(s, d), dq, 10)
        .select(col("query_id"), col("n_exact"),
          col("recall").as("recall_stale"))
      val fresh = SearchOps.hybridSemanticRecall(s, builtBm25Index(s, d),
        s.read.parquet(builtPqDriftFreshIndex(s, d)), de,
        driftedCentroids(s, d), driftedPqCodebook(s, d), dq, 10)
        .select(col("query_id"), col("recall").as("recall_refreshed"))
      stale.join(fresh, Seq("query_id")).orderBy(col("query_id"))
    },
      hybridDriftOracle(_.recall)),
    // BATCHED fully-served hybrid (round 14 — the batching story
    // closed across the whole stack): 3 queries' lexical rankings
    // from ONE pruned postings read, semantic rankings from ONE code
    // scan + ONE bounded float fetch, RRF-fused per query — three
    // scans for the batch where 3 single hybrids issue ~12. Batched
    // ≡ Q single hybridSearchServed calls is the hash gate
    Query("q_hybrid_multi", (s, d) =>
      SearchOps.hybridMultiSearchServed(s, builtBm25Index(s, d),
        s.read.parquet(builtPqIvfIndex(s, d)), Tables.embeddings(s, d),
        seedCents16(s, d), pqCodebookFor(s, d),
        hybridEvalQueries.map { case (_, ts, vid) => (vid, ts) }, 10),
      hybridHealthyOracle(_.multi)),
    // §2.10 GET /search over the enriched index: quality + PII filters
    Query("q_search_enriched", (s, d) =>
      SearchOps.searchEnriched(
        graft.streaming.Pipelines.qualityEnrich(
          Cdc.syntheticEnvelopes(Tables.documents(s, d))),
        "merge", minQualityScore = 50.0, excludePii = true, size = 20),
      Sql("""WITH e AS (
           SELECT CASE WHEN doc_id % 20 = 0 THEN 'd'
                       WHEN doc_id % 20 = 1 THEN 'r'
                       WHEN doc_id % 2 = 0 THEN 'c' ELSE 'u' END AS op,
                  doc_id, text, source, n_chars
           FROM documents),
         k AS (SELECT * FROM e WHERE op NOT IN ('r','d')),
         w AS (
           SELECT doc_id, text, source, substring(text, 1, 1024) AS tx,
                  string_split(substring(text, 1, 1024), ' ') AS ws
           FROM k),
         s AS (
           SELECT doc_id, text, source,
             CAST(least(100, floor(length(tx)/5)) AS BIGINT) AS completeness,
             CAST(CASE WHEN len(ws) < 3 THEN 0
                  ELSE floor(len(list_distinct(ws)) * 100 / len(ws)) END AS BIGINT) AS consistency,
             CAST(CASE WHEN regexp_matches(tx, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
                         OR regexp_matches(tx, '[0-9]{3}-[0-9]{2}-[0-9]{4}')
                         OR regexp_matches(tx, '\+?[0-9][0-9 ()-]{7,14}[0-9]')
                    THEN 0 ELSE 100 END AS BIGINT) AS pii_detection,
             CAST(least(100, floor(len(list_filter(ws, x -> x IN ('the','a'))) * 1000 / len(ws))) AS BIGINT) AS language_quality
           FROM w),
         f AS (
           SELECT doc_id,
             (3*completeness + 3*consistency + 2*pii_detection + 2*language_quality)/10.0 AS quality_score,
             2 * CAST((length(source) - length(replace(source,'merge','')))/5 AS BIGINT)
               + CAST((length(text) - length(replace(text,'merge','')))/5 AS BIGINT) AS score
           FROM s
           WHERE (3*completeness + 3*consistency + 2*pii_detection + 2*language_quality)/10.0 >= 50.0
             AND pii_detection != 0)
         SELECT doc_id, quality_score, score, count(*) OVER () AS total_hits
         FROM f WHERE score > 0
         ORDER BY score DESC, doc_id LIMIT 20""")),
  )

  /** Retrieval-eval replay, shared with its as-of composition. */
  private def retrievalEvalSql: String =
    """WITH qt(query_label, term) AS (VALUES
           ('merge+query', 'merge'), ('merge+query', 'query'),
           ('sort+window', 'sort'), ('sort+window', 'window'),
           ('spark+data', 'spark'), ('spark+data', 'data')),
         qs AS (SELECT query_label, count(*) AS n_terms FROM qt
                GROUP BY query_label),
         d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         dd AS (SELECT doc_id, len(ws) AS dl, ws FROM d),
         stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dd),
         tf AS (SELECT doc_id, dl, term, count(*) AS tf
                FROM (SELECT doc_id, dl, unnest(ws) AS term FROM dd)
                WHERE term IN (SELECT DISTINCT term FROM qt)
                GROUP BY doc_id, dl, term),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         sc AS (SELECT qt.query_label, tf.doc_id,
             round(sum(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6)
               * (tf * (1.2 + 1.0))
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25,
             count(*) AS n_present, min(tf.tf) AS min_tf
           FROM tf JOIN dfreq USING (term) CROSS JOIN stats
             JOIN qt USING (term)
           GROUP BY qt.query_label, tf.doc_id),
         ranked AS (SELECT query_label, doc_id, rank FROM (
             SELECT query_label, doc_id, row_number() OVER (
               PARTITION BY query_label ORDER BY bm25 DESC, doc_id) AS rank
             FROM sc) WHERE rank <= 10),
         rel AS (SELECT sc.query_label, sc.doc_id
                 FROM sc JOIN qs USING (query_label)
                 WHERE n_present = n_terms AND min_tf >= 3),
         nrel AS (SELECT query_label, count(*) AS n_relevant FROM rel
                  GROUP BY query_label),
         hit AS (SELECT r.query_label,
                   CAST(sum(CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
                   min(CASE WHEN rel.doc_id IS NOT NULL THEN r.rank END) AS fr
                 FROM ranked r LEFT JOIN rel
                   ON rel.query_label = r.query_label AND rel.doc_id = r.doc_id
                 GROUP BY r.query_label)
         SELECT q.query_label,
           CAST(coalesce(n_relevant, 0) AS BIGINT) AS n_relevant,
           CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
           CAST(coalesce(fr, 0) AS INT) AS first_rank,
           coalesce(round(CAST(1 AS DOUBLE) / fr, 4), CAST(0 AS DOUBLE)) AS mrr,
           round(coalesce(n_hit, 0) * CAST(1 AS DOUBLE) / 10, 4) AS p_at_k,
           CASE WHEN coalesce(n_relevant, 0) > 0
                THEN round(coalesce(n_hit, 0) * CAST(1 AS DOUBLE) / n_relevant, 4)
                ELSE CAST(0 AS DOUBLE) END AS r_at_k
         FROM (SELECT DISTINCT query_label FROM qt) q
         LEFT JOIN nrel USING (query_label)
         LEFT JOIN hit USING (query_label)
         ORDER BY query_label"""
  /** Build-once BM25 inverted-file artifact per corpus — the lexical
    * serving index ([[graft.ops.SearchOps.writeBm25Index]]).
    */
  protected def builtBm25Index(s: SparkSession, d: String): String =
    builtIndexDir("graft_bm25", d) { p =>
      SearchOps.writeBm25Index(Tables.documents(s, d), p)
    }

  /** Build-once TERM-bucketed postings catalog table over
    * [[builtBm25Index]] — the serving layout q_search_bm25_bucketed
    * reads (round 16).
    */
  protected def builtBm25BucketedPostings(s: SparkSession,
      d: String): String =
    builtTable("graft_bm25bkt", d) { t =>
      SearchOps.writeBm25BucketedPostings(s, builtBm25Index(s, d), t, 8)
    }

  /** Build-once INCREMENTALLY-assembled BM25 index: the seven-eighths
    * base written, the ids ≡ 5 mod 8 batch APPENDED (postings into
    * the existing term-bucket directories, corpus scalars merged from
    * the stored exact longs). q_search_bm25_incremental shares the
    * one-shot operator's oracle verbatim — append ≡ rebuild is gated
    * by the hash itself (the builtIvfIncIndex convention).
    */
  protected def builtBm25IncIndex(s: SparkSession, d: String): String =
    builtIndexDir("graft_bm25_inc", d) { p =>
      val docs = Tables.documents(s, d)
      SearchOps.writeBm25Index(docs.filter(col("doc_id") % 8 =!= 5), p)
      SearchOps.appendToBm25Index(docs.filter(col("doc_id") % 8 === 5), p,
        batchKey = "inc1")
    }

  /** Build-once full index with the ids ≡ 3 mod 7 batch TOMBSTONED
    * (logical erasure — postings untouched, exact negative ledger).
    */
  protected def builtBm25DelIndex(s: SparkSession, d: String): String =
    builtIndexDir("graft_bm25_del", d) { p =>
      val docs = Tables.documents(s, d)
      SearchOps.writeBm25Index(docs, p)
      SearchOps.deleteFromBm25Index(
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")), p,
        batchKey = "del1")
    }

  /** Build-once RETENTION-compacted BM25 index: base (docs ∉ {5,6}
    * mod 8) + appends "w1" (≡5) and "w2" (≡6) + erasure "del1"
    * (≡3 mod 7 — spanning base, w1, AND w2 docs), then
    * `compactBm25IndexKeeping(keep = Seq("w2"))`: build+w1+del1 fold
    * (tombstones applied physically to the folded docs), w2 stays
    * addressable, and del1's kept-part re-materializes as the
    * "retained" tombstones + exact "del-retained" ledger row.
    * Serving = corpus − (≡3 mod 7), so the serve query shares the
    * erasure replay; the as-of and history twins gate the fold and
    * the ledger split.
    */
  protected def builtBm25RetIndex(s: SparkSession, d: String): String =
    builtIndexDir("graft_bm25_ret", d) { p =>
      val docs = Tables.documents(s, d)
      SearchOps.writeBm25Index(
        docs.filter(col("doc_id") % 8 =!= 5 && col("doc_id") % 8 =!= 6), p)
      SearchOps.appendToBm25Index(
        docs.filter(col("doc_id") % 8 === 5), p, batchKey = "w1")
      SearchOps.appendToBm25Index(
        docs.filter(col("doc_id") % 8 === 6), p, batchKey = "w2")
      SearchOps.deleteFromBm25Index(
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")), p,
        batchKey = "del1")
      SearchOps.compactBm25IndexKeeping(s, p, Seq("w2"))
    }

  /** Build-once tombstoned index, then COMPACTED (physical erasure;
    * q_search_bm25_compacted shares the deleted oracle, so
    * compacted ≡ tombstoned is gated by the hash itself).
    */
  protected def builtBm25CompactIndex(s: SparkSession, d: String): String =
    builtIndexDir("graft_bm25_cmp", d) { p =>
      val docs = Tables.documents(s, d)
      SearchOps.writeBm25Index(docs, p)
      SearchOps.deleteFromBm25Index(
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")), p,
        batchKey = "del1")
      SearchOps.compactBm25Index(s, p)
    }

  /** Build-once STREAM-ERASED BM25 index: the full corpus written,
    * then the ids ≡ 3 mod 7 batch arrives as TWO deletion-request
    * micro-batches (ids ≡ 3 and ≡ 10 mod 14) through the real
    * checkpointed [[graft.streaming.Pipelines.bm25DeleteSink]].
    * q_search_bm25_stream_deleted shares the batch-deleted oracle —
    * sink-erased ≡ rebuild-on-remaining is the hash gate.
    */
  protected def builtBm25StrDelIndex(s: SparkSession, d: String): String =
    builtIndexDir("graft_bm25_sdel", d) { p =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val docs = Tables.documents(s, d)
      SearchOps.writeBm25Index(docs, p + "/idx")
      val mem = MemoryStream[Long]
      val q = graft.streaming.Pipelines.bm25DeleteSink(
        mem.toDS().toDF("doc_id"), p + "/idx", p + "/ckpt")
      try {
        val ids = docs.filter(col("doc_id") % 7 === 3)
          .select("doc_id").collect().map(_.getLong(0)).sorted
        Seq(3L, 10L).foreach { m =>
          mem.addData(ids.filter(_ % 14 == m).toIndexedSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
    }

  /** Build-once STREAM-BUILT BM25 index per corpus: the whole corpus
    * arrives as three MemoryStream batches (doc_id % 3 in order)
    * through the real [[graft.streaming.Pipelines.bm25IndexSink]]
    * (checkpointed foreachBatch, per-batch postings + stats-ledger
    * partitions). q_search_bm25_streamed serves from it and shares
    * the one-shot corpus oracle — stream-built ≡ rebuild is gated by
    * the hash itself. Ids only on the stream (driver-fed by
    * definition); text joins in from the static table.
    */
  protected def builtBm25StreamedIndex(s: SparkSession, d: String): String =
    builtIndexDir("graft_bm25_str", d) { p =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val docs = Tables.documents(s, d)
      val mem = MemoryStream[Long]
      val src = mem.toDS().toDF("doc_id")
        .join(docs.select(col("doc_id"), col("text")), "doc_id")
      val q = graft.streaming.Pipelines.bm25IndexSink(
        src, p + "/idx", p + "/ckpt")
      try {
        val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
        (0L until 3L).foreach { b =>
          mem.addData(ids.filter(_ % 3 == b).toIndexedSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
    }

  /** The 3-query eval batch the hybrid operating-point entries share:
    * (label, query terms, query-vector id). The labels and terms are
    * q_retrieval_eval's, so the lexical eval next to the fused eval
    * is directly comparable.
    */
  protected val hybridEvalQueries: Seq[(String, Seq[String], Long)] = Seq(
    ("merge+query", Seq("merge", "query"), 0L),
    ("sort+window", Seq("sort", "window"), 1L),
    ("spark+data", Seq("spark", "data"), 2L))

  /** Oracles for q_hybrid_eval and q_hybrid_eval_drift (generated —
    * the codebooks and drifted centroids print as literals): the SQL
    * replays, per eval query, BOTH serving branches (the bucket-
    * pruned BM25 top-20 and the IVF-PQ two-stage shortlist→re-rank
    * top-20), the RRF fusion, the deterministic relevance rule, and
    * the exact-rational metric tail — q_retrieval_eval's text
    * parameterized per fused ranking, so the fused MRR/P@k/R@k
    * numbers themselves are hash-gated. The drift variant replays
    * two complete semantic sides (stale book + seed routing vs
    * re-trained book + drifted routing) over the drifted corpus
    * against ONE shared lexical/relevance block.
    */
  protected def hybridHealthyOracle(sql: HybridHealthySql => String): Oracle =
    Generated(() => Option(lastOracleDir).flatMap(d => Option(pqCbCache.get(d)))
      .map(cb => sql(new HybridHealthySql(cb))))

  protected def hybridDriftOracle(sql: HybridDriftSql => String): Oracle =
    Generated(() => for {
      d <- Option(lastOracleDir)
      cbStale <- Option(pqCbCache.get(d))
      cbFresh <- Option(pqDriftedCbCache.get(d))
      cents <- Option(ivfDriftedCents.get(d))
    } yield sql(new HybridDriftSql(cbStale, cbFresh, cents)))

  /** The query fixtures, lexical block, semantic side and metric
    * readout both hybrid replays share.
    */
  protected abstract class HybridEvalSql {
    protected val qtVals = hybridEvalQueries
      .flatMap { case (l, ts, _) => ts.map(t => s"('$l', '$t')") }
      .mkString(", ")
    protected val qvVals = hybridEvalQueries
      .map { case (l, _, id) => s"('$l', $id)" }.mkString(", ")
    // the shared lexical branch + relevance rule + label universe —
    // q_retrieval_eval's corpus replay with the branch depth of 20
    protected val lexRel =
      s"""dcorp AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         ddl AS (SELECT doc_id, len(ws) AS dl, ws FROM dcorp),
         stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ddl),
         tfq AS (SELECT doc_id, dl, term, count(*) AS tf
                FROM (SELECT doc_id, dl, unnest(ws) AS term FROM ddl)
                WHERE term IN (SELECT DISTINCT term FROM qt)
                GROUP BY doc_id, dl, term),
         dfreq AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
         scq AS (SELECT qt.query_label, tfq.doc_id,
             round(sum(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6)
               * (tf * (1.2 + 1.0))
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25,
             count(*) AS n_present, min(tfq.tf) AS min_tf
           FROM tfq JOIN dfreq USING (term) CROSS JOIN stats
             JOIN qt USING (term)
           GROUP BY qt.query_label, tfq.doc_id),
         qs AS (SELECT query_label, count(*) AS n_terms FROM qt
                GROUP BY query_label),
         lex AS (SELECT query_label, doc_id,
             CAST(rk AS INTEGER) AS lex_rank FROM (
             SELECT query_label, doc_id, row_number() OVER (
               PARTITION BY query_label ORDER BY bm25 DESC, doc_id) AS rk
             FROM scq) WHERE rk <= 20),
         rel AS (SELECT scq.query_label, scq.doc_id
                 FROM scq JOIN qs USING (query_label)
                 WHERE n_present = n_terms AND min_tf >= 3),
         nrel AS (SELECT query_label, count(*) AS n_relevant FROM rel
                  GROUP BY query_label)"""
    // one complete semantic side + fusion + per-query ranking, CTE
    // names suffixed by `tag`: `scCte` carries the (vec, centroid)
    // rounded cosines of that side's routing, `book` its codebook
    protected def semSide(tag: String, book: String, scCte: String,
        sd: Int): String =
      s"""probes$tag AS (SELECT qv.query_label, p.ccid AS cell
           FROM qv JOIN (
             SELECT vec_id, ccid,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY s DESC, ccid) AS rn
             FROM $scCte) p ON p.vec_id = qv.qvid WHERE p.rn <= 2),
         assign$tag AS (SELECT vec_id, ccid AS cell FROM (
             SELECT vec_id, ccid,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY s DESC, ccid) AS rn
             FROM $scCte) WHERE rn = 1),
         dist$tag AS (SELECT v.vec_id, c.sub, c.cid,
             round(list_reduce(
               [(v.ve[c.sub * $sd + i] - c.ce[i]) * (v.ve[c.sub * $sd + i] - c.ce[i])
                for i in range(1, ${sd + 1})], (a, b) -> a + b), 6) AS dd
           FROM v CROSS JOIN $book c),
         codes$tag AS (SELECT vec_id, sub, cid FROM (
             SELECT vec_id, sub, cid,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dd ASC, cid) AS rn
             FROM dist$tag) WHERE rn = 1),
         lut$tag AS (SELECT q.query_label, c.sub, c.cid,
             CAST(round(list_reduce(
               [q.qe[c.sub * $sd + i] * c.ce[i] for i in range(1, ${sd + 1})],
               (a, b) -> a + b) * 1000000.0, 0) AS BIGINT) AS l6
           FROM $book c CROSS JOIN q),
         s6$tag AS (SELECT p.query_label, a.vec_id, sum(l.l6) AS s6
             FROM assign$tag a
             JOIN probes$tag p ON p.cell = a.cell
             JOIN codes$tag k ON k.vec_id = a.vec_id
             JOIN lut$tag l ON l.query_label = p.query_label
                           AND l.sub = k.sub AND l.cid = k.cid
             GROUP BY 1, 2),
         short$tag AS (SELECT query_label, vec_id FROM (
             SELECT query_label, vec_id,
               row_number() OVER (PARTITION BY query_label
                 ORDER BY round(s6 / 1000000.0, 6) DESC, vec_id) AS rn
             FROM s6$tag) WHERE rn <= 40),
         rr$tag AS (SELECT sh.query_label, v2.vec_id,
             round(list_cosine_similarity(v2.ve, q.qe), 4) AS cos_sim
           FROM short$tag sh JOIN v v2 ON v2.vec_id = sh.vec_id
           JOIN q ON q.query_label = sh.query_label),
         sem$tag AS (SELECT query_label, vec_id AS doc_id,
             CAST(rk AS INTEGER) AS sem_rank FROM (
             SELECT query_label, vec_id,
               row_number() OVER (PARTITION BY query_label
                 ORDER BY cos_sim DESC, vec_id) AS rk
             FROM rr$tag) WHERE rk <= 20),
         fused$tag AS (SELECT
             coalesce(l.query_label, s.query_label) AS query_label,
             coalesce(l.doc_id, s.doc_id) AS doc_id,
             l.lex_rank, s.sem_rank,
             round(coalesce(CAST(1 AS DOUBLE) / (60 + l.lex_rank), 0.0) +
                   coalesce(CAST(1 AS DOUBLE) / (60 + s.sem_rank), 0.0), 6)
               AS rrf
           FROM lex l FULL OUTER JOIN sem$tag s
             ON l.query_label = s.query_label AND l.doc_id = s.doc_id),
         ranked$tag AS (SELECT query_label, doc_id, rank FROM (
             SELECT query_label, doc_id, row_number() OVER (
               PARTITION BY query_label ORDER BY rrf DESC, doc_id) AS rank
             FROM fused$tag) WHERE rank <= 10),
         hit$tag AS (SELECT r.query_label,
             CAST(sum(CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hit,
             min(CASE WHEN rel.doc_id IS NOT NULL THEN r.rank END) AS fr
           FROM ranked$tag r LEFT JOIN rel
             ON rel.query_label = r.query_label AND rel.doc_id = r.doc_id
           GROUP BY r.query_label)"""
    // q_retrieval_eval's exact metric readout over one side's hits
    protected def metricSelect(tag: String): String =
      s"""SELECT q2.query_label,
           CAST(coalesce(n_relevant, 0) AS BIGINT) AS n_relevant,
           CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
           CAST(coalesce(fr, 0) AS INT) AS first_rank,
           coalesce(round(CAST(1 AS DOUBLE) / fr, 4), CAST(0 AS DOUBLE)) AS mrr,
           round(coalesce(n_hit, 0) * CAST(1 AS DOUBLE) / 10, 4) AS p_at_k,
           CASE WHEN coalesce(n_relevant, 0) > 0
                THEN round(coalesce(n_hit, 0) * CAST(1 AS DOUBLE) / n_relevant, 4)
                ELSE CAST(0 AS DOUBLE) END AS r_at_k
         FROM (SELECT DISTINCT query_label FROM qt) q2
         LEFT JOIN nrel USING (query_label)
         LEFT JOIN hit$tag USING (query_label)"""
  }

  /** The healthy-corpus replays over one codebook. */
  protected final class HybridHealthySql(cb: Similarity.PqCodebook)
      extends HybridEvalSql {
    // the shared healthy prefix: codebook, query fixtures, seed
    // routing, one full semantic side, the lexical block
    private val healthyPrefix =
      s"""WITH cb AS (SELECT sub, cid, ce FROM (VALUES ${pqCbValuesSql(cb)}) t(sub, cid, ce)),
             qt(query_label, term) AS (VALUES $qtVals),
             qv(query_label, qvid) AS (VALUES $qvVals),
             v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
                   FROM embeddings),
             cc AS (SELECT vec_id AS ccid, ve AS ce2 FROM v
                    WHERE vec_id < 16),
             q AS (SELECT qv.query_label, v.ve AS qe FROM qv
                   JOIN v ON v.vec_id = qv.qvid),
             sch AS (SELECT v.vec_id, cc.ccid,
                 round(list_cosine_similarity(v.ve, cc.ce2), 4) AS s
               FROM v CROSS JOIN cc),
             ${semSide("h", "cb", "sch", cb.subDim)},
             $lexRel"""
    def eval: String =
      s"""$healthyPrefix
               ${metricSelect("h")}
               ORDER BY query_label"""
    // the batched hybrid shares the per-query fused replay:
    // batched ≡ Q single fully-served hybrids is the hash gate
    def multi: String =
      s"""$healthyPrefix
               SELECT CAST(qv.qvid AS BIGINT) AS query_id, f.doc_id,
                 CAST(f.lex_rank AS INTEGER) AS lex_rank,
                 CAST(f.sem_rank AS INTEGER) AS sem_rank, f.rrf
               FROM (SELECT query_label, doc_id, lex_rank, sem_rank, rrf,
                       row_number() OVER (PARTITION BY query_label
                         ORDER BY rrf DESC, doc_id) AS rn
                     FROM fusedh) f JOIN qv USING (query_label)
               WHERE rn <= 10
               ORDER BY query_id, rrf DESC, doc_id"""
  }

  /** The drifted-corpus replays: stale and re-trained books, seed and
    * drifted routing.
    */
  protected final class HybridDriftSql(cbStale: Similarity.PqCodebook,
      cbFresh: Similarity.PqCodebook, cents: Seq[Seq[Double]])
      extends HybridEvalSql {
    private val cvals = cents.zipWithIndex
      .map { case (c, i) => s"($i, [${c.mkString(",")}]::DOUBLE[])" }
      .mkString(", ")
    // the shared drift-corpus prefix: both codebooks, both routing
    // sides, the negation re-ingest, parameterized by the query-id
    // VALUES (the eval uses base ids, the recall drifted ids)
    private def driftPrefix(qvValues: String): String =
      s"""WITH cbs AS (SELECT sub, cid, ce FROM (VALUES ${pqCbValuesSql(cbStale)}) t(sub, cid, ce)),
           cbf AS (SELECT sub, cid, ce FROM (VALUES ${pqCbValuesSql(cbFresh)}) t(sub, cid, ce)),
           qt(query_label, term) AS (VALUES $qtVals),
           qv(query_label, qvid) AS (VALUES $qvValues),
           base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
                    FROM embeddings),
           v AS (SELECT vec_id, ve FROM base
                 UNION ALL
                 SELECT vec_id + 2000000, list_transform(ve, x -> -x)
                 FROM base WHERE vec_id % 5 = 0),
           ccb AS (SELECT vec_id AS ccid, ve AS ce2 FROM base
                   WHERE vec_id < 16),
           cca AS (SELECT ccid, ce2 FROM (VALUES $cvals) t(ccid, ce2)),
           q AS (SELECT qv.query_label, v.ve AS qe FROM qv
                 JOIN v ON v.vec_id = qv.qvid),
           scb AS (SELECT v.vec_id, ccb.ccid,
               round(list_cosine_similarity(v.ve, ccb.ce2), 4) AS s
             FROM v CROSS JOIN ccb),
           sca AS (SELECT v.vec_id, cca.ccid,
               round(list_cosine_similarity(v.ve, cca.ce2), 4) AS s
             FROM v CROSS JOIN cca),
           ${semSide("b", "cbs", "scb", cbStale.subDim)},
           ${semSide("a", "cbf", "sca", cbFresh.subDim)},
           $lexRel"""
    def eval: String =
      s"""${driftPrefix(qvVals)}
           SELECT * FROM (
             SELECT '1-stale' AS state, * FROM (${metricSelect("b")})
             UNION ALL
             SELECT '2-refreshed' AS state, * FROM (${metricSelect("a")}))
           ORDER BY state, query_label"""
    private val driftQv = hybridEvalQueries.map(_._1)
      .zip(Seq(2000000L, 2000010L, 2000020L))
      .map { case (l, id) => s"('$l', $id)" }.mkString(", ")
    private def recSide(tag: String): String =
      s"""SELECT e.query_label, count(*) AS n_exact,
             round(count(r.doc_id) * 1.0 / count(*), 4) AS recall
           FROM exact e LEFT JOIN ranked$tag r
             ON r.query_label = e.query_label AND r.doc_id = e.vec_id
           GROUP BY 1"""
    def recall: String =
      s"""${driftPrefix(driftQv)},
           exact AS (SELECT query_label, vec_id FROM (
               SELECT q.query_label, v.vec_id,
                 row_number() OVER (PARTITION BY q.query_label
                   ORDER BY round(list_cosine_similarity(v.ve, q.qe), 4) DESC,
                            v.vec_id) AS rn
               FROM v CROSS JOIN q) WHERE rn <= 10)
           SELECT CAST(qv.qvid AS BIGINT) AS query_id, rb.n_exact,
             rb.recall AS recall_stale, ra.recall AS recall_refreshed
           FROM qv JOIN (${recSide("b")}) rb USING (query_label)
           JOIN (${recSide("a")}) ra USING (query_label)
           ORDER BY query_id"""
  }

}
