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

/** Dedup families (exact/minhash/simhash/segment/substring) — one module of the per-family SparkEntry split (round 14):
  * this family's `Seq[Query]`, each query declared once beside its
  * oracle decision, plus the builders and generated oracles only
  * this family uses. Aggregated by [[SparkEntry]].
  */
private[graft] trait DedupEntries extends EntryInfra {

  protected def dedupQueries: Seq[Query] = Seq(
    // Dedup: exact duplicate groups via 16-byte digest shuffle
    Query("q_dedup_exact", (s, d) =>
      Dedup.exactDuplicateGroups(Tables.events(s, d), "event_id",
        Seq("user_id", "event_type")).orderBy(col("dup_key")),
      Sql("""SELECT md5(CAST(to_json(struct_pack(user_id := user_id,
                                             event_type := event_type)) AS VARCHAR)) AS dup_key,
         count(*) AS n_copies, min(event_id) AS keep_id
         FROM events GROUP BY user_id, event_type
         HAVING count(*) > 1 ORDER BY dup_key""")),
    // Dedup: deterministic drop (keep min id), rolled up per type
    Query("q_dedup_drop", (s, d) =>
      Dedup.dropExactDuplicates(Tables.events(s, d), "event_id",
        Seq("user_id", "event_type"))
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_kept"))
        .orderBy(col("event_type")),
      Sql("""SELECT event_type, count(*) AS n_kept FROM (
           SELECT user_id, event_type, min(event_id) AS event_id
           FROM events GROUP BY 1, 2)
         GROUP BY 1 ORDER BY event_type""")),
    // Dedup: word-bigram Jaccard on adjacent doc pairs (exact)
    Query("q_ngram_jaccard", (s, d) => {
      val docs = Tables.documents(s, d)
      val a = docs.select(col("doc_id").as("id_a"), col("text").as("text_a"))
      val b = docs.select(col("doc_id").as("id_b"), col("text").as("text_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          round(Dedup.jaccard(
            Dedup.shinglesFor(docs)(col("text_a"), 2),
            Dedup.shinglesFor(docs)(col("text_b"), 2)), 4).as("jaccard"))
        .orderBy(col("id_a"))
    },
      Sql("""WITH g AS (
           SELECT doc_id,
             list_distinct([array_to_string(ws[i:i+1], ' ') for i in range(1, len(ws))]) AS grams
           FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.grams, b.grams)) /
                 len(list_distinct(list_concat(a.grams, b.grams))), 4) AS jaccard
         FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
         ORDER BY id_a""")),
    // Dedup: directional containment (overlap coefficient ≥ 0.9) over
    // a corpus with planted HALF-truncations — the subset/truncation
    // case whose Jaccard is length-diluted to ~0.5; r=1 banding for
    // containment-grade recall, exact integer-cross-multiplied gate
    Query("q_containment_md5", (s, d) =>
      Dedup.containmentNearDuplicates(halfCorpus(s, d), "doc_id", "text",
        hashMode = "md5")
        .orderBy(col("id_kept"), col("id_dropped")),
      // full md5-minhash replay with r=1 banding + containment verify
      // over the half-truncation corpus (mirrors minhashMd5Cte's shape)
      Sql("""WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 2000000 AS doc_id,
             array_to_string(ws[1:greatest(len(ws)//2, 3)], ' ') AS text
           FROM (SELECT doc_id, string_split(text,' ') AS ws FROM documents
                 WHERE doc_id % 7 = 0)),
         sh AS (
           SELECT doc_id,
             list_distinct([array_to_string(ws[i:i+2],' ') for i in range(1, len(ws)-1)]) AS grams
           FROM (SELECT doc_id, string_split(text,' ') AS ws FROM corpus)
           WHERE len(ws) >= 3),
         sig AS (
           SELECT doc_id,
             [list_min([md5(CAST(p AS VARCHAR) || '|' || g) for g in grams]) for p in range(0,16)] AS sg
           FROM sh),
         bk AS (
           SELECT doc_id, i AS band, md5(sg[CAST(i+1 AS INT)]) AS bucket
           FROM sig CROSS JOIN (SELECT unnest(range(0,16)) AS i)),
         capped AS (
           SELECT doc_id, band, bucket FROM (
             SELECT doc_id, band, bucket,
               count(*) OVER (PARTITION BY band, bucket) AS bsz FROM bk)
           WHERE bsz <= 100),
         cand AS (
           SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
           FROM capped l JOIN capped r
             ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
         ver AS (
           SELECT id_a, id_b,
             len(list_intersect(a.grams, b.grams)) AS inter,
             len(a.grams) AS na, len(b.grams) AS nb
           FROM cand JOIN sh a ON a.doc_id = cand.id_a
                     JOIN sh b ON b.doc_id = cand.id_b)
         SELECT
           CASE WHEN na > nb OR (na = nb AND id_a < id_b) THEN id_a ELSE id_b END AS id_kept,
           CASE WHEN na > nb OR (na = nb AND id_a < id_b) THEN id_b ELSE id_a END AS id_dropped,
           round(inter / least(na, nb), 4) AS containment
         FROM ver WHERE inter * 10000 >= least(na, nb) * 9000
         ORDER BY id_kept, id_dropped""")),
    // Dedup: exact dedup on CANONICALIZED text — catches the case/
    // punctuation/whitespace variants byte-exact dedup misses (CCNet
    // dedups normalized text); planted: doc_id % 9 == 0 gains an
    // upper-cased ragged-spacing +3,000,000-id copy, and the min-id
    // winner per normalized key is always the original
    Query("q_dedup_normalized", (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val variants = docs.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit(" !")).as("text"))
      val corpus = docs.unionByName(variants)
        .select(col("doc_id"),
          graft.functions.TextFunctions.normalizeText(col("text")).as("norm"))
      Dedup.dropExactDuplicates(corpus, "doc_id", Seq("norm"))
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
      Sql("""WITH c AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 3000000, '  ' || upper(text) || ' !'
           FROM documents WHERE doc_id % 9 = 0),
         n AS (
           SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
           FROM c)
         SELECT doc_id FROM (
           SELECT doc_id, min(doc_id) OVER (PARTITION BY norm) AS keep
           FROM n) t
         WHERE doc_id = keep ORDER BY doc_id""")),
    // Dedup: document-frequency boilerplate removal (CCNet/C4 rule:
    // segments in ≥3 distinct docs removed from EVERY doc, including
    // first occurrences — unlike q_segment_dedup's keep-first)
    Query("q_boilerplate_removal", (s, d) =>
      Dedup.removeBoilerplate(Tables.documents(s, d), "doc_id", "text",
        segWords = 3, minDocs = 3)
        .orderBy(col("doc_id")),
      Sql("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         seg AS (SELECT doc_id,
             unnest(range(0, CAST(ceil(len(ws) / 3.0) AS BIGINT))) AS pos,
             unnest([array_to_string(ws[i*3+1 : i*3+3], ' ')
                     for i in range(0, CAST(ceil(len(ws) / 3.0) AS BIGINT))])
               AS seg
           FROM t),
         df AS (SELECT seg, count(DISTINCT doc_id) AS doc_freq
                FROM seg GROUP BY 1),
         keep AS (SELECT s.doc_id, s.pos, s.seg
                  FROM seg s JOIN df ON s.seg = df.seg
                  WHERE df.doc_freq < 3),
         tot AS (SELECT doc_id, count(*) AS n_segments FROM seg GROUP BY 1),
         r AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text,
             count(*) AS n_kept
           FROM keep GROUP BY 1)
         SELECT r.doc_id, r.text, r.n_kept, tot.n_segments
         FROM r JOIN tot USING (doc_id) ORDER BY doc_id""")),
    // Dedup: MinHash+LSH near-dups over a planted-perturbation corpus
    Query("q_minhash_neardup", (s, d) =>
      Dedup.minhashNearDuplicates(plantedCorpus(s, d), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b")), // presentation sort at the edge
      NoOracle("xxhash64 minhash permutations; q_minhash_neardup_md5 is gated")),
    // Dedup: LSH pairs closed under transitivity → clusters with a
    // canonical min-id label (rows-only: hinges on xxhash64 minhash)
    Query("q_dedup_clusters", (s, d) =>
      dedupClusters(s, d).orderBy(col("node")),
      NoOracle("xxhash64 minhash under the clustering; q_dedup_clusters_md5 is gated")),
    // Dedup: the corpus with near-copies dropped (canonical survives).
    // Derives from the same built cluster artifact as q_dedup_clusters
    // — a real dedup pipeline computes pairs once and reads both views
    Query("q_dedup_survivors", (s, d) => {
      val losers = dedupClusters(s, d)
        .filter(col("node") =!= col("component"))
        .select(col("node").as("__drop_id"))
      plantedCorpus(s, d)
        .join(losers, col("doc_id") <=> col("__drop_id"), "left_anti")
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
      NoOracle("xxhash64 minhash under survivor choice; q_dedup_survivors_md5 is gated")),
    // The SAME LSH pipeline in md5-signature mode: every stage —
    // signature, banding, bucket join, Jaccard verify — hash-matched
    // against DuckDB (md5 exists in both engines; xxhash64 doesn't),
    // converting the near-dup family from rows-only to proven
    Query("q_minhash_neardup_md5", (s, d) =>
      Dedup.minhashNearDuplicates(plantedCorpus(s, d), "doc_id", "text",
        hashMode = "md5")
        .orderBy(col("id_a"), col("id_b")),
      Sql(minhashMd5Cte +
      "SELECT id_a, id_b, round(j,4) AS jaccard FROM pr ORDER BY id_a, id_b")),
    // LSH operating-point evaluation (the q_ann_recall analog for
    // the dedup family): of the PLANTED near-dup pairs whose exact
    // 3-gram Jaccard clears the pipeline threshold, what fraction
    // does the banded MinHash pipeline actually find? Banding and the
    // skew cap both lose candidates; this measures the loss instead
    // of guessing it — and the found set is a subset of truth by
    // construction (the pipeline verifies with the same exact J)
    Query("q_dedup_recall", (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val ws = split(col("text"), " ", -1)
      val pairs = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") + 1000000L).as("id_b"),
          Dedup.shinglesFor(docs)(col("text"), 3).as("ga"),
          Dedup.shinglesFor(docs)(plantedPerturbedText(ws), 3).as("gb"))
      val found = Dedup.minhashNearDuplicates(plantedCorpus(s, d),
          "doc_id", "text", hashMode = "md5")
        .filter(col("id_b") === col("id_a") + 1000000L &&
          col("id_a") % 5 === 0)
        .select(col("id_a"), lit(1L).as("hit"))
      // ONE projection computes the truth predicate, then a plain
      // aggregate — a filter on the computed column would be alias-
      // substituted below the projection and re-evaluate the shingle
      // HOF subtrees per predicate (the flaggedInternal hazard;
      // measured 5.7 → 2.6 s at sf0.1)
      pairs.join(found, Seq("id_a"), "left")
        .select((size(col("ga")) > 0 && size(col("gb")) > 0 &&
            Dedup.jaccard(col("ga"), col("gb")) >= 0.5).as("ok"),
          col("hit"))
        .agg(sum(when(col("ok"), 1L).otherwise(0L)).as("n_truth"),
          sum(when(col("ok") && col("hit").isNotNull, 1L)
            .otherwise(0L)).as("n_found"))
        .select(col("n_truth"), col("n_found"),
          when(col("n_truth") > 0,
            expr("(n_found * 20000 + n_truth) div (2 * n_truth)") /
              lit(10000.0)).as("recall"))
    },
      // recall replay: truth = planted pairs with exact J >= 0.5 (both
      // sides need shingles, the signature pass's own precondition);
      // found = the pipeline's verified pairs restricted to planted ids
      Sql(minhashMd5Cte +
      """, planted AS (SELECT doc_id AS id_a, doc_id + 1000000 AS id_b
                       FROM documents WHERE doc_id % 5 = 0),
         tr AS (SELECT p.id_a,
                  len(list_intersect(a.grams, b.grams)) * 1.0 /
                  len(list_distinct(list_concat(a.grams, b.grams))) AS j
                FROM planted p
                JOIN sh a ON a.doc_id = p.id_a
                JOIN sh b ON b.doc_id = p.id_b),
         tt AS (SELECT id_a FROM tr WHERE j >= 0.5),
         f AS (SELECT id_a FROM pr
               WHERE id_b = id_a + 1000000 AND id_a % 5 = 0)
         SELECT count(*) AS n_truth, count(f.id_a) AS n_found,
           CASE WHEN count(*) > 0 THEN
             ((count(f.id_a) * 20000 + count(*)) // (2 * count(*)))
               / 10000.0
           END AS recall
         FROM tt LEFT JOIN f ON tt.id_a = f.id_a""")),
    // Recall BY SIMILARITY BAND: the planted pairs bucketed by exact
    // Jaccard decile (band = ⌊10·J⌋ in exact integer arithmetic),
    // each band's pipeline-found fraction — shows WHERE the loss
    // lives: bands under the 0.5 verify threshold read 0 by design
    // (the cliff), bands just above it carry the banding loss
    Query("q_dedup_recall_bands", (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val ws = split(col("text"), " ", -1)
      val pairs = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("id_a"),
          Dedup.shinglesFor(docs)(col("text"), 3).as("ga"),
          Dedup.shinglesFor(docs)(plantedPerturbedText(ws), 3).as("gb"))
      val found = Dedup.minhashNearDuplicates(plantedCorpus(s, d),
          "doc_id", "text", hashMode = "md5")
        .filter(col("id_b") === col("id_a") + 1000000L &&
          col("id_a") % 5 === 0)
        .select(col("id_a"), lit(1L).as("hit"))
      // the shingle-less pairs carry a NULL group key instead of a
      // row-level filter (which pushdown would rewrite into repeated
      // shingle builds — the flaggedInternal hazard); their group is
      // pruned AFTER aggregation, where nothing can re-evaluate
      pairs.join(found, Seq("id_a"), "left")
        .select(
          // floor on both sides: Spark's double→long cast truncates
          // but DuckDB's CAST rounds — floor is the one op they share
          when(size(col("ga")) > 0 && size(col("gb")) > 0,
            floor((lit(10) * size(array_intersect(col("ga"), col("gb")))) /
              size(array_union(col("ga"), col("gb")))))
            .as("band"),
          col("hit"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_pairs"),
          coalesce(sum(col("hit")), lit(0L)).as("n_found"))
        .filter(col("band").isNotNull)
        .select(col("band"), col("n_pairs"), col("n_found"),
          (expr("(n_found * 20000 + n_pairs) div (2 * n_pairs)") /
            lit(10000.0)).as("found_frac"))
        .orderBy(col("band"))
    },
      // banded replay: every planted pair with shingles lands in its
      // exact-Jaccard decile; found joins the pipeline's verified pairs
      Sql(minhashMd5Cte +
      """, planted AS (SELECT doc_id AS id_a, doc_id + 1000000 AS id_b
                       FROM documents WHERE doc_id % 5 = 0),
         tr AS (SELECT p.id_a,
                  CAST(floor(10.0 * len(list_intersect(a.grams, b.grams)) /
                    len(list_distinct(list_concat(a.grams, b.grams))))
                    AS BIGINT) AS band
                FROM planted p
                JOIN sh a ON a.doc_id = p.id_a
                JOIN sh b ON b.doc_id = p.id_b),
         f AS (SELECT id_a FROM pr
               WHERE id_b = id_a + 1000000 AND id_a % 5 = 0)
         SELECT band, count(*) AS n_pairs,
           count(f.id_a) AS n_found,
           ((count(f.id_a) * 20000 + count(*)) // (2 * count(*)))
             / 10000.0 AS found_frac
         FROM tr LEFT JOIN f ON tr.id_a = f.id_a
         GROUP BY band ORDER BY band""")),
    // md5-mode pairs closed under transitivity — the oracle replays
    // the transitive closure as a recursive CTE
    Query("q_dedup_clusters_md5", (s, d) =>
      dedupClustersMd5(s, d).orderBy(col("node")),
      Sql(minhashMd5Cte +
      """SELECT a AS node, least(a, min(b)) AS component
         FROM reach GROUP BY a ORDER BY node""")),
    // md5-mode survivor view: anti-join of the same cluster artifact
    Query("q_dedup_survivors_md5", (s, d) => {
      val losers = dedupClustersMd5(s, d)
        .filter(col("node") =!= col("component"))
        .select(col("node").as("__drop_id"))
      plantedCorpus(s, d)
        .join(losers, col("doc_id") <=> col("__drop_id"), "left_anti")
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
      Sql(minhashMd5Cte +
      """, comp AS (SELECT a AS node, least(a, min(b)) AS component
                    FROM reach GROUP BY a)
         SELECT doc_id FROM corpus
         WHERE NOT EXISTS (SELECT 1 FROM comp
                           WHERE comp.node = corpus.doc_id
                             AND comp.node <> comp.component)
         ORDER BY doc_id""")),
    // Leakage-safe split: split keys are near-dup cluster labels, so
    // duplicate families never straddle train/eval (same cached
    // cluster artifact; per-doc rows so the grouping is oracled)
    Query("q_leakage_safe_split", (s, d) =>
      SampleOps.leakageSafeSplit(plantedCorpus(s, d),
        dedupClustersMd5(s, d), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split")).orderBy(col("doc_id")),
      // split key = cluster component when clustered, own id otherwise;
      // boundaries are the q_hash_split md5-prefix constants
      Sql(minhashMd5Cte +
      """, comp AS (SELECT a AS node, least(a, min(b)) AS component
                    FROM reach GROUP BY a)
         SELECT c.doc_id,
           CASE
             WHEN substring(md5(CAST(coalesce(comp.component, c.doc_id)
               AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
             WHEN substring(md5(CAST(coalesce(comp.component, c.doc_id)
               AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
             ELSE 'test' END AS split
         FROM corpus c LEFT JOIN comp ON comp.node = c.doc_id
         ORDER BY c.doc_id""")),
    // Cluster-size histogram over the same cached cluster artifact —
    // the dedup-health readout ("how big do near-dup families get")
    Query("q_cluster_sizes_md5", (s, d) =>
      dedupClustersMd5(s, d)
        .groupBy(col("component")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size")),
      Sql(minhashMd5Cte +
      """, comp AS (SELECT a AS node, least(a, min(b)) AS component
                    FROM reach GROUP BY a),
         cs AS (SELECT component, count(*) AS sz FROM comp GROUP BY 1)
         SELECT sz AS cluster_size, count(*) AS n_clusters
         FROM cs GROUP BY 1 ORDER BY cluster_size""")),
    // md5-mode survivor view under the PREFERENCE policy: each
    // cluster keeps its longest member (planted near-copies are
    // truncated, so originals win) — same cached cluster artifact
    Query("q_dedup_survivors_best_md5", (s, d) =>
      Dedup.keepBestPerCluster(plantedCorpus(s, d), dedupClustersMd5(s, d),
        "doc_id", length(col("text")))
        .select(col("doc_id")).orderBy(col("doc_id")),
      // preference policy: per-cluster winner = max length, ties min id
      Sql(minhashMd5Cte +
      """, comp AS (SELECT a AS node, least(a, min(b)) AS component
                    FROM reach GROUP BY a),
         pf AS (SELECT c.doc_id, comp.component, length(c.text) AS pf
                FROM corpus c JOIN comp ON comp.node = c.doc_id),
         win AS (SELECT doc_id FROM (
             SELECT doc_id, row_number() OVER (PARTITION BY component
               ORDER BY pf DESC, doc_id) AS rn FROM pf) WHERE rn = 1)
         SELECT doc_id FROM corpus
         WHERE NOT EXISTS (SELECT 1 FROM comp WHERE comp.node = corpus.doc_id)
            OR EXISTS (SELECT 1 FROM win WHERE win.doc_id = corpus.doc_id)
         ORDER BY doc_id""")),
    // Incremental dedup — the daily-increment production path: the
    // existing corpus pays one signature pass (the index); the new
    // batch (the perturbed near-copies) signs itself and probes the
    // index. Survivors of the batch are oracled against the full
    // md5 pipeline restricted to new-side pairs.
    Query("q_dedup_incremental", (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val ws = split(col("text"), " ", -1)
      val newBatch = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          plantedPerturbedText(ws).as("text"))
      // the signature index is a build-once corpus artifact (same
      // serving model as the written IVF index): built on first use,
      // probed thereafter
      SessionCaches.ensureHook(s)
      val index = sigIndexCache.computeIfAbsent((s, d), kv =>
        Dedup.minhashSignatures(Tables.documents(kv._1, kv._2)
            .select("doc_id", "text"), "doc_id", "text", hashMode = "md5")
          .localCheckpoint(true))
      // smallBatchRows = 0 forces the DISTRIBUTED probe through the
      // oracle (the q_components precedent — the 100 TB path stays
      // hash-gated); the bounded-increment fast path serves the twin
      // query below, against the SAME oracle
      withAqeOff(s) {
        Dedup.dedupIncrement(newBatch, index, "doc_id", "text",
          hashMode = "md5", smallBatchRows = 0)
          .select(col("doc_id")).orderBy(col("doc_id"))
      }
    },
      // pairs touching the new batch are exactly the full pipeline's
      // pairs with a new-side id_b (new ids are all offset by 1e6 and
      // the cap is computed over index ∪ batch = the planted corpus)
      Sql(minhashMd5Cte +
      """SELECT doc_id FROM corpus
         WHERE doc_id >= 1000000
           AND NOT EXISTS (SELECT 1 FROM pr WHERE pr.id_b = corpus.doc_id)
         ORDER BY doc_id""")),
    // The same increment through the bounded-batch fast path (batch
    // bucket rows collect under an explicit row+byte budget, ONE
    // in-task index pass, Scala-twin verification) — the serving
    // shape of a daily increment; oracled against the identical full
    // md5 replay, so fast ≡ distributed is hash-gated, not just
    // spec'd
    Query("q_dedup_incremental_fast", (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val ws = split(col("text"), " ", -1)
      val newBatch = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          plantedPerturbedText(ws).as("text"))
      SessionCaches.ensureHook(s)
      val index = sigIndexCache.computeIfAbsent((s, d), kv =>
        Dedup.minhashSignatures(Tables.documents(kv._1, kv._2)
            .select("doc_id", "text"), "doc_id", "text", hashMode = "md5")
          .localCheckpoint(true))
      Dedup.dedupIncrement(newBatch, index, "doc_id", "text",
        hashMode = "md5")
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
      // the fast path must produce the SAME survivors — one oracle
      // text, two execution paths, both hash-gated
      SameAs("q_dedup_incremental")),
    // RETENTION for the near-dup SIGNATURE catalog (round-15 verdict
    // #5 — the last catalog family member under the query gate): the
    // pair-free corpus subset accumulates through three real sink
    // micro-batches, compactBatchOutputKeeping folds all but the
    // last, and the planted increment probes the RETAINED catalog —
    // survivors ≡ the one-shot replay against exactly that catalog
    // (pr restricted to clean-base or batch-internal pairs), so the
    // fold's content-invariance AND the sink's accumulation are both
    // hash-gated
    Query("q_neardup_catalog_retained", (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val ws = split(col("text"), " ", -1)
      val newBatch = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          plantedPerturbedText(ws).as("text"))
      val catalog = s.read.parquet(builtNearDupRetainedCatalog(s, d))
        .select("id", "text", "sig")
      withAqeOff(s) {
        Dedup.dedupIncrement(newBatch, catalog, "doc_id", "text",
          hashMode = "md5", smallBatchRows = 0)
          .select(col("doc_id")).orderBy(col("doc_id"))
      }
    },
      // the retained-catalog probe: a planted doc survives unless it
      // pairs with a BATCH-internal doc (id_a >= 1e6) or with a CLEAN
      // base doc — one that is itself in no base↔base pair and hence
      // in the sink's accumulated (then folded) catalog
      Sql(minhashMd5Cte +
      """SELECT doc_id FROM corpus
         WHERE doc_id >= 1000000
           AND NOT EXISTS (
             SELECT 1 FROM pr WHERE pr.id_b = corpus.doc_id
               AND (pr.id_a >= 1000000 OR pr.id_a NOT IN (
                 SELECT id_a FROM pr WHERE id_b < 1000000
                 UNION
                 SELECT id_b FROM pr WHERE id_b < 1000000)))
         ORDER BY doc_id""")),
    // Dedup: SimHash banding near-dups over the same corpus
    Query("q_simhash_neardup", (s, d) =>
      Dedup.simhashNearDuplicates(plantedCorpus(s, d), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b")),
      NoOracle("xxhash64 feature hashing; q_simhash_neardup_md5 is gated")),
    // SimHash banding in md5 mode — like the minhash md5 twin, every
    // stage (token band values, majority vote, band buckets, Hamming
    // verify) replays byte-identically in DuckDB
    Query("q_simhash_neardup_md5", (s, d) =>
      Dedup.simhashNearDuplicates(plantedCorpus(s, d), "doc_id", "text",
        hashMode = "md5")
        .orderBy(col("id_a"), col("id_b")),
      Sql("""WITH RECURSIVE corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id,
             array_to_string(ws[1:greatest(len(ws)-2,1)], ' ') AS text
           FROM (SELECT doc_id, string_split(text,' ') AS ws FROM documents
                 WHERE doc_id % 5 = 0)),
         tv AS (
           SELECT doc_id,
             [[CAST(concat('0x', substring(m, b*4+1, 4)) AS INTEGER)
               for m in ms] for b in [0,1,2,3]] AS tb,
             len(ms) AS n
           FROM (SELECT doc_id, [md5(w) for w in string_split(text,' ')] AS ms
                 FROM corpus WHERE text IS NOT NULL)),
         sh AS (
           SELECT doc_id,
             [CAST(list_sum([CASE WHEN 2*len(list_filter(tb[b+1],
                      v -> (v >> j) & 1 = 1)) >= n
                 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END
                 for j in range(0,16)]) AS BIGINT) for b in [0,1,2,3]] AS bands
           FROM tv WHERE n > 0),
         bk AS (
           SELECT doc_id, b AS band, bands[b+1] AS value
           FROM sh CROSS JOIN (SELECT unnest([0,1,2,3]) AS b)),
         capped AS (
           SELECT doc_id, band, value FROM (
             SELECT doc_id, band, value,
               count(*) OVER (PARTITION BY band, value) AS bsz FROM bk)
           WHERE bsz <= 100),
         cand AS (
           SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
           FROM capped l JOIN capped r
             ON l.band = r.band AND l.value = r.value AND l.doc_id < r.doc_id),
         ver AS (
           SELECT id_a, id_b,
             CAST(list_sum([bit_count(xor(a.bands[i+1], b.bands[i+1]))
               for i in [0,1,2,3]]) AS BIGINT) AS hamming
           FROM cand JOIN sh a ON a.doc_id = cand.id_a
                     JOIN sh b ON b.doc_id = cand.id_b)
         SELECT id_a, id_b, hamming FROM ver WHERE hamming <= 3
         ORDER BY id_a, id_b""")),
    // CCNet-style segment dedup: corpus-wide first-occurrence removal
    // of repeated 3-word segments + document reassembly
    Query("q_segment_dedup", (s, d) =>
      Dedup.segmentDedup(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id")),
      // segment dedup: 3-word windows with 0-based positions; the first
      // (doc_id, pos) occurrence of each segment survives (row_number
      // replays Spark's min-struct), docs rebuild via ordered string_agg
      Sql("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         seg AS (SELECT doc_id,
             unnest(range(0, CAST(ceil(len(ws) / 3.0) AS BIGINT))) AS pos,
             unnest([array_to_string(ws[i*3+1 : i*3+3], ' ')
                     for i in range(0, CAST(ceil(len(ws) / 3.0) AS BIGINT))])
               AS seg
           FROM t),
         f AS (SELECT doc_id, pos, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
           FROM seg),
         tot AS (SELECT doc_id, count(*) AS n_segments FROM seg GROUP BY 1),
         r AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text,
             count(*) AS n_kept
           FROM f WHERE rn = 1 GROUP BY 1)
         SELECT r.doc_id, r.text, r.n_kept, tot.n_segments
         FROM r JOIN tot USING (doc_id) ORDER BY doc_id""")),
    // Duplication profile: per-doc fraction of distinct trigrams
    // shared with at least one other document
    Query("q_duplication_profile", (s, d) =>
      Dedup.duplicationProfile(Tables.documents(s, d))
        .orderBy(col("doc_id")),
      // duplication profile: distinct trigrams per doc, gram counted
      // once per containing doc; shared ⇔ count > 1
      Sql("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g0 AS (SELECT doc_id,
             CASE WHEN len(ws) >= 3
                  THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                      for i in range(1, len(ws) - 1)])
                  ELSE CAST([] AS VARCHAR[]) END AS gs
           FROM t),
         g AS (SELECT doc_id, unnest(gs) AS g FROM g0),
         c AS (SELECT g, count(*) AS cnt FROM g GROUP BY 1),
         agg AS (SELECT doc_id, count(*) AS n_grams,
             CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared
           FROM g JOIN c USING (g) GROUP BY 1)
         SELECT t.doc_id,
           coalesce(n_grams, 0) AS n_grams,
           coalesce(n_shared, 0) AS n_shared,
           CASE WHEN coalesce(n_grams, 0) > 0
                THEN round(n_shared * 1.0 / n_grams, 4) ELSE 0.0 END
             AS dup_frac,
           (CASE WHEN coalesce(n_grams, 0) > 0
                 THEN round(n_shared * 1.0 / n_grams, 4) ELSE 0.0 END >= 0.5)
             AS flagged
         FROM t LEFT JOIN agg USING (doc_id) ORDER BY t.doc_id""")),
    // Substring-level exact dedup (Lee et al. ExactSubstr analog):
    // duplicated 8-word spans dropped, first occurrence kept, text
    // rebuilt from surviving words
    Query("q_substring_dedup", (s, d) =>
      Dedup.substringDedup(Tables.documents(s, d))
        .orderBy(col("doc_id")),
      // substring dedup: 8-word sliding windows, ≥2 occurrences
      // corpus-wide ⇒ duplicated; first (doc_id, pos) survives, other
      // occurrences drop their covered positions; text rebuilt in order
      Sql("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         occ AS (SELECT doc_id,
             unnest(range(0, greatest(len(ws) - 8 + 1, 0))) AS pos, ws
           FROM t),
         h AS (SELECT doc_id, pos,
             md5(array_to_string(ws[pos+1 : pos+8], ' ')) AS hh
           FROM occ),
         o2 AS (SELECT doc_id, pos,
             row_number() OVER (PARTITION BY hh ORDER BY doc_id, pos) AS rn,
             count(*) OVER (PARTITION BY hh) AS c
           FROM h),
         removed AS (SELECT doc_id, pos FROM o2 WHERE c >= 2 AND rn > 1),
         covered AS (SELECT DISTINCT doc_id, pos + k.k AS p
           FROM removed, (SELECT unnest(range(0, 8)) AS k) k),
         wp AS (SELECT doc_id, unnest(ws) AS word,
             generate_subscripts(ws, 1) - 1 AS p
           FROM t),
         kept AS (SELECT wp.doc_id, wp.word, wp.p
           FROM wp LEFT JOIN covered cv
             ON wp.doc_id = cv.doc_id AND wp.p = cv.p
           WHERE cv.p IS NULL),
         agg AS (SELECT doc_id, count(*) AS n_kept,
             string_agg(word, ' ' ORDER BY p) AS clean_text
           FROM kept GROUP BY doc_id)
         SELECT t.doc_id, CAST(len(t.ws) AS INT) AS n_words,
           CAST(len(t.ws) - coalesce(agg.n_kept, 0) AS INT) AS n_dropped,
           coalesce(agg.clean_text, '') AS clean_text
         FROM t LEFT JOIN agg USING (doc_id) ORDER BY t.doc_id""")),
    // The STAGED serving twin (round-11 verdict #2): the window
    // occurrences staged once as an hh-bucketed catalog table and
    // the tokenized corpus as a doc-bucketed one — the readout's two
    // corpus-wide hh operations plan zero exchanges, nothing
    // re-tokenizes, and the corpus text never shuffles. Shares
    // q_substring_dedup's oracle verbatim: staged ≡ one-shot is the
    // hash gate itself
    Query("q_substring_dedup_indexed", (s, d) =>
      Dedup.substringDedupStaged(s, builtSubstrOccTable(s, d),
        builtDocWordsTable(s, d)).orderBy(col("doc_id")),
      // the staged substring-dedup twin shares its one-shot replay
      SameAs("q_substring_dedup")),
    // Corpus snapshot diff: v2 drops %13 docs, edits %17 texts, adds
    // a +1e6 slice — the per-id added/removed/changed/unchanged readout
    Query("q_corpus_diff", (s, d) => {
      val docs = Tables.documents(s, d)
      val v2 = docs.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 17 === 0,
          concat(col("text"), lit(" edited"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 10 === 3)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      graft.curation.Curation.corpusDiff(docs, v2, "doc_id", Seq("text"))
        .orderBy(col("doc_id"))
    },
      // snapshot diff: same null-safe JSON-struct digest as q_dedup_exact
      Sql("""WITH oldc AS (SELECT doc_id,
             md5(CAST(to_json(struct_pack(text := text)) AS VARCHAR)) AS h
           FROM documents),
         n0 AS (SELECT doc_id,
             CASE WHEN doc_id % 17 = 0 THEN text || ' edited'
                  ELSE text END AS text
           FROM documents WHERE doc_id % 13 <> 0
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 3),
         newc AS (SELECT doc_id,
             md5(CAST(to_json(struct_pack(text := text)) AS VARCHAR)) AS h
           FROM n0)
         SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.h IS NULL THEN 'added'
                WHEN n.h IS NULL THEN 'removed'
                WHEN o.h <> n.h THEN 'changed' ELSE 'unchanged' END AS status
         FROM oldc o FULL OUTER JOIN newc n ON o.doc_id = n.doc_id
         ORDER BY doc_id""")),
    // Incremental segment dedup: the ¼ batch slice probes the digest
    // index built from the ¾ corpus slice (online CCNet dedup)
    Query("q_segment_dedup_incremental", (s, d) => {
      val docs = Tables.documents(s, d)
      val seen = Dedup.segmentDigests(
        docs.filter(col("doc_id") % 4 =!= 0), "text")
      Dedup.rebuildSegmentedDocs(
        Dedup.segmentDedupIncrement(
          docs.filter(col("doc_id") % 4 === 0), seen, "doc_id", "text"),
        "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // incremental replay: batch-internal first occurrence (row_number)
      // minus any segment occurring anywhere in the index slice
      Sql("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         seg AS (SELECT doc_id,
             unnest(range(0, CAST(ceil(len(ws) / 3.0) AS BIGINT))) AS pos,
             unnest([array_to_string(ws[i*3+1 : i*3+3], ' ')
                     for i in range(0, CAST(ceil(len(ws) / 3.0) AS BIGINT))])
               AS seg
           FROM t),
         idx AS (SELECT DISTINCT seg FROM seg WHERE doc_id % 4 <> 0),
         bseg AS (SELECT * FROM seg WHERE doc_id % 4 = 0),
         f AS (SELECT doc_id, pos, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
           FROM bseg),
         tot AS (SELECT doc_id, count(*) AS n_segments FROM bseg GROUP BY 1),
         k AS (SELECT doc_id, pos, seg FROM f
               WHERE rn = 1 AND seg NOT IN (SELECT seg FROM idx)),
         r AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text,
             count(*) AS n_kept
           FROM k GROUP BY 1)
         SELECT r.doc_id, r.text, r.n_kept, tot.n_segments
         FROM r JOIN tot USING (doc_id) ORDER BY doc_id""")),
    // RETENTION for the batch-stamped CATALOG layouts (round-13
    // verdict #4): the segment-dedup sink's accumulated corpus after
    // three sequential micro-batches, with all but the last batch's
    // partitions folded to the collapsed base on BOTH tables
    // (compactBatchOutputKeeping). The oracle replays the full
    // sequential first-occurrence semantics, so retention-invariance
    // of the accumulated output IS the hash gate
    Query("q_segment_dedup_retained", (s, d) =>
      s.read.parquet(builtSegmentRetainedOut(s, d) + "/out")
        .select(col("doc_id"), col("text"), col("n_kept"),
          col("n_segments"))
        .orderBy(col("doc_id")),
      // the 3-batch sink replay: global first-occurrence ownership in
      // (batch order, doc, pos) — the accumulated corpus AFTER
      // retention folded batches 0-1 must still equal this exactly
      Sql("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         seg AS (SELECT doc_id,
             unnest(range(0, CAST(ceil(len(ws) / 3.0) AS BIGINT))) AS pos,
             unnest([array_to_string(ws[i*3+1 : i*3+3], ' ')
                     for i in range(0, CAST(ceil(len(ws) / 3.0) AS BIGINT))])
               AS seg
           FROM t),
         tot AS (SELECT doc_id, count(*) AS n_segments FROM seg GROUP BY 1),
         f AS (SELECT doc_id, pos, seg,
             row_number() OVER (PARTITION BY seg
               ORDER BY doc_id % 3, doc_id, pos) AS rn
           FROM seg),
         k AS (SELECT doc_id, pos, seg FROM f WHERE rn = 1),
         r AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text,
             count(*) AS n_kept
           FROM k GROUP BY 1)
         SELECT r.doc_id, r.text, r.n_kept, tot.n_segments
         FROM r JOIN tot USING (doc_id) ORDER BY doc_id""")),
    // AS-OF over the retained catalog (round 14 — the time-travel
    // member of the catalog family): the accumulated corpus as of
    // micro-batch 1, AFTER retention folded batches 0-1 into the
    // collapse partition — the fold IS that prefix exactly, so the
    // snapshot equals the 2-batch sequential replay (the oracle)
    Query("q_segment_dedup_asof", (s, d) =>
      graft.streaming.Pipelines.readBatchOutputAsOf(s,
        builtSegmentRetainedOut(s, d) + "/out", 1L)
        .select(col("doc_id"), col("text"), col("n_kept"),
          col("n_segments"))
        .orderBy(col("doc_id")),
      // the as-of prefix: the 2-batch (doc_id % 3 IN (0, 1)) sequential
      // replay — the retention fold must BE that prefix exactly
      Sql("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM documents WHERE doc_id % 3 <> 2),
         seg AS (SELECT doc_id,
             unnest(range(0, CAST(ceil(len(ws) / 3.0) AS BIGINT))) AS pos,
             unnest([array_to_string(ws[i*3+1 : i*3+3], ' ')
                     for i in range(0, CAST(ceil(len(ws) / 3.0) AS BIGINT))])
               AS seg
           FROM t),
         tot AS (SELECT doc_id, count(*) AS n_segments FROM seg GROUP BY 1),
         f AS (SELECT doc_id, pos, seg,
             row_number() OVER (PARTITION BY seg
               ORDER BY doc_id % 3, doc_id, pos) AS rn
           FROM seg),
         k AS (SELECT doc_id, pos, seg FROM f WHERE rn = 1),
         r AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text,
             count(*) AS n_kept
           FROM k GROUP BY 1)
         SELECT r.doc_id, r.text, r.n_kept, tot.n_segments
         FROM r JOIN tot USING (doc_id) ORDER BY doc_id""")),
  )
  /** documents ∪ deterministic near-copies (every 5th doc, last two
    * words dropped, id + 1_000_000) — gives the near-dup detectors a
    * known planted signal to recover.
    */
  /** The near-dup cluster labels are a corpus ARTIFACT (like the IVF
    * index): built once per (session, corpus), served to both the
    * cluster view and the survivor view. minhashClusters returns an
    * eagerly checkpointed frame, so the cached value is materialized
    * data, not a lazy plan into released caches.
    */
  protected val dedupClustersCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  SessionCaches.register(dedupClustersCache)

  // materialized md5 signature index per corpus (see q_dedup_incremental)
  protected val sigIndexCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  SessionCaches.register(sigIndexCache)

  protected def dedupClusters(s: SparkSession, d: String): DataFrame = {
    SessionCaches.ensureHook(s)
    dedupClustersCache.computeIfAbsent((s, d), kv =>
      Dedup.minhashClusters(plantedCorpus(kv._1, kv._2), "doc_id", "text"))
  }

  // same artifact under the md5 signature mode (oracled pipeline);
  // the "::md5" key suffix can't collide with a real dir path
  protected def dedupClustersMd5(s: SparkSession, d: String): DataFrame = {
    SessionCaches.ensureHook(s)
    dedupClustersCache.computeIfAbsent((s, d + "::md5"), _ =>
      Dedup.minhashClusters(plantedCorpus(s, d), "doc_id", "text",
        hashMode = "md5"))
  }

  /** Stage-once 8-word window-occurrence table, bucketed by window
    * digest (the substring-dedup family's ingest staging —
    * [[graft.dedup.Dedup.stageWindowOccurrences]]).
    */
  protected def builtSubstrOccTable(s: SparkSession, d: String): String =
    builtTable("graft_ssocc", d) { t =>
      Dedup.stageWindowOccurrences(Tables.documents(s, d), t)
    }

  /** Build-once 3-batch segment-dedup sink replay WITH retention:
    * the corpus arrives as three sequential micro-batches
    * (doc_id % 3 = 0, 1, 2) through the real
    * [[graft.streaming.Pipelines.processSegmentDedupBatch]] core,
    * then [[graft.streaming.Pipelines.compactBatchOutputKeeping]]
    * folds all but the LAST batch's partitions on BOTH accumulated
    * tables (digest index + rebuilt corpus) — the bounded-history
    * maintenance for the batch-stamped catalog layouts.
    */
  protected def builtSegmentRetainedOut(s: SparkSession, d: String): String =
    builtIndexDir("graft_segret", d) { p =>
      val docs = Tables.documents(s, d)
      Seq(0L, 1L, 2L).foreach { b =>
        graft.streaming.Pipelines.processSegmentDedupBatch(
          docs.filter(col("doc_id") % 3 === b), p + "/idx", p + "/out", b)
      }
      graft.streaming.Pipelines.compactBatchOutputKeeping(s, p + "/idx",
        Seq("2"))
      graft.streaming.Pipelines.compactBatchOutputKeeping(s, p + "/out",
        Seq("2"))
    }

  /** Build-once 3-batch NEAR-DUP sink replay WITH retention (round-15
    * verdict #5 — the signature catalog under the query gate): the
    * corpus arrives as three sequential micro-batches through the
    * real [[graft.streaming.Pipelines.processNearDupBatch]] core
    * (md5 signatures so the catalog is oracle-replayable), then
    * [[graft.streaming.Pipelines.compactBatchOutputKeeping]] folds
    * all but the LAST batch's partitions.
    *
    * The sink corpus is the PAIR-FREE subset of the base docs — both
    * sides of every base↔base near-dup pair removed (pairs computed
    * over the SAME planted corpus the oracle replays, so the bucket
    * cap context matches `pr` exactly). Pair-free input ⇒ the sink
    * admits every doc ⇒ the accumulated catalog is expressible in
    * one-shot SQL — the sequential self-dedup semantics (which are
    * chain-recursive for minhash, unlike the segment family's
    * first-occurrence digests) never trigger. The sf0.1 corpus DOES
    * carry an internal near-dup pair, which is what broke the naive
    * "catalog = full corpus" sharing of q_dedup_incremental's oracle.
    */
  protected def builtNearDupRetainedCatalog(s: SparkSession,
      d: String): String =
    builtIndexDir("graft_ndret", d) { p =>
      val dirty = Dedup.minhashNearDuplicates(plantedCorpus(s, d),
        "doc_id", "text", hashMode = "md5")
        .filter(col("id_b") < 1000000L)
        .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
        .distinct()
      val clean = Tables.documents(s, d).select("doc_id", "text")
        .join(dirty, Seq("doc_id"), "left_anti")
      Seq(0L, 1L, 2L).foreach { b =>
        graft.streaming.Pipelines.processNearDupBatch(
          clean.filter(col("doc_id") % 3 === b), p, b, hashMode = "md5")
      }
      graft.streaming.Pipelines.compactBatchOutputKeeping(s, p, Seq("2"))
    }

  /** Stage-once tokenized corpus bucketed by doc id — the rebuild
    * side of the staged substring dedup.
    */
  protected def builtDocWordsTable(s: SparkSession, d: String): String =
    builtTable("graft_dwords", d) { t =>
      Dedup.stageDocWords(Tables.documents(s, d), t)
    }

  /** Corpus with planted HALF-truncations: every doc_id % 7 == 0 doc
    * gains a +2,000,000-id copy keeping only its first ⌊n/2⌋ words
    * (min 3 so it still shingles) — Jaccard vs the original is
    * length-diluted to ≈ 0.5 while containment is exactly 1.0, the
    * case [[Dedup.containmentNearDuplicates]] exists to catch.
    */
  protected def halfCorpus(s: SparkSession, d: String) = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val ws = split(col("text"), " ", -1)
    val halves = docs
      .filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat_ws(" ", slice(ws, lit(1),
          greatest((size(ws) / 2).cast("int"), lit(3)))).as("text"))
    docs.unionByName(halves)
  }

  /** The planted near-dup perturbation — a doc's words minus its
    * last two (floor one word). ONE expression shared by the corpus
    * planting, both increment queries, and the recall truth side, so
    * the planting rule can never drift between the pipeline under
    * test and the ground truth measuring it.
    */
  protected def plantedPerturbedText(ws: Column): Column =
    concat_ws(" ", slice(ws, lit(1), greatest(size(ws) - 2, lit(1))))

  protected def plantedCorpus(s: SparkSession, d: String) = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val ws = split(col("text"), " ", -1)
    val perturbed = docs
      .filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        plantedPerturbedText(ws).as("text"))
    docs.unionByName(perturbed)
  }

  protected val minhashMd5Cte: String =
    """WITH RECURSIVE corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 1000000 AS doc_id,
           array_to_string(ws[1:greatest(len(ws)-2,1)], ' ') AS text
         FROM (SELECT doc_id, string_split(text,' ') AS ws FROM documents
               WHERE doc_id % 5 = 0)),
       sh AS (
         SELECT doc_id,
           list_distinct([array_to_string(ws[i:i+2],' ') for i in range(1, len(ws)-1)]) AS grams
         FROM (SELECT doc_id, string_split(text,' ') AS ws FROM corpus)
         WHERE len(ws) >= 3),
       sig AS (
         SELECT doc_id,
           [list_min([md5(CAST(p AS VARCHAR) || '|' || g) for g in grams]) for p in range(0,16)] AS sg
         FROM sh),
       bk AS (
         SELECT doc_id, b AS band, md5(array_to_string(sg[b*4+1:b*4+4],'|')) AS bucket
         FROM sig CROSS JOIN (SELECT unnest([0,1,2,3]) AS b)),
       capped AS (
         SELECT doc_id, band, bucket FROM (
           SELECT doc_id, band, bucket,
             count(*) OVER (PARTITION BY band, bucket) AS bsz FROM bk)
         WHERE bsz <= 100),
       cand AS (
         SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
         FROM capped l JOIN capped r
           ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
       ver AS (
         SELECT id_a, id_b,
           len(list_intersect(a.grams, b.grams)) /
           len(list_distinct(list_concat(a.grams, b.grams))) AS j
         FROM cand JOIN sh a ON a.doc_id = cand.id_a JOIN sh b ON b.doc_id = cand.id_b),
       pr AS (SELECT id_a, id_b, j FROM ver WHERE j >= 0.5),
       sym AS (SELECT id_a AS a, id_b AS b FROM pr
               UNION SELECT id_b AS a, id_a AS b FROM pr),
       reach AS (SELECT a, b FROM sym
                 UNION
                 SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
    """

}
