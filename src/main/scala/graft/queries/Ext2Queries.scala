package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables

/** Round-6 corpus-shaping + embedding-analytics batch (q106+): per-source
  * caps (plain and skew-salted, oracle-shared), RAG overlap chunking,
  * per-label mean-pooled centroids, k-NN majority classification, ANN
  * recall@k calibration, exact-percentile length banding, and per-source
  * duplication profiling. Reference scope: these extend the engine's
  * LLM-pipeline surface (builder brief) — no PUMLE counterpart.
  */
object Ext2Queries {

  // --------------------------------------------------------------- q106
  // Per-source top-N cap — the anti-domination rule (keep at most 15
  // docs per source, longest first, doc_id tie-break). One window on a
  // total order; the salted twin (q107) is the mega-domain-safe shape.
  private val q106 = Q(
    "q106_source_cap",
    (s, d) => {
      graft.ext.Corpus.capPerGroup(Tables.documents(s, d), "source",
          Seq(col("n_chars").desc, col("doc_id")), n = 15)
        .select(col("doc_id"), col("source"), col("n_chars"), col("rn"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, source, n_chars, rn FROM (
        SELECT doc_id, source, n_chars,
          CAST(row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rn
        FROM documents)
      WHERE rn <= 15 ORDER BY doc_id"""))

  // --------------------------------------------------------------- q107
  // The salted two-phase cap on the SAME data and parameters, sharing
  // q106's oracle VERBATIM: phase 1 caps each (source, salt) sub-shard
  // locally, phase 2 re-ranks the ≤ n·salts survivors — the driver
  // proves salted ≡ plain against an independent engine (the property
  // that licenses the salted form on a mega-domain at 100 TB).
  private val q107 = Q(
    "q107_source_cap_salted",
    (s, d) => {
      graft.ext.Corpus.capPerGroupSalted(Tables.documents(s, d), "source",
          Seq(col("n_chars").desc, col("doc_id")), n = 15)
        .select(col("doc_id"), col("source"), col("n_chars"), col("rn"))
        .orderBy(col("doc_id"))
    },
    q106.oracle) // q106's oracle VERBATIM

  // --------------------------------------------------------------- q108
  // RAG overlap chunking: width 32, stride 24 (8-word overlap). Purely
  // narrow (split + sequence + slice in one generator); the tail chunk
  // is short, never dropped. Tokenization matches the engine-wide
  // single-space contract (q58).
  private val q108 = Q(
    "q108_chunk_overlap",
    (s, d) => {
      graft.ext.Corpus.chunkOverlap(Tables.documents(s, d),
          width = 32, stride = 24)
        .select(col("doc_id"), col("chunk_idx"), col("n_words"), col("chunk"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    Some("""WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      -- generate_series only takes CONSTANT bounds in DuckDB (no lateral
      -- column / subquery): generate a fixed 0..99999 stride grid (far
      -- above any test doc's word count) and keep starts below each
      -- doc's length
      s AS (
        SELECT doc_id, w, CAST(g.generate_series AS BIGINT) AS st
        FROM w, generate_series(0, 99999, 24) g
        WHERE CAST(g.generate_series AS BIGINT) <= CAST(len(w) AS BIGINT) - 1)
      SELECT doc_id, st // 24 AS chunk_idx,
        CAST(len(list_slice(w, st + 1, st + 32)) AS BIGINT) AS n_words,
        array_to_string(list_slice(w, st + 1, st + 32), ' ') AS chunk
      FROM s ORDER BY doc_id, chunk_idx"""))

  // --------------------------------------------------------------- q109
  // Per-label mean-pooled centroid, long form (label, dim, n, mean) —
  // one partial-aggregable groupBy(label, dim); terms rounded to 6 dp
  // then summed in exact DECIMAL so summation order cannot move the
  // mean (normProfile's discipline). The mean rounds in INTEGER space
  // (signed half-away-from-zero over micro-units): a double round()
  // hit a real 6-dp midpoint at sf0.1 and the engines split.
  private val q109 = Q(
    "q109_mean_pool",
    (s, d) => {
      graft.ext.Similarity.meanPool(s, Tables.embeddings(s, d))
        .orderBy(col("label"), col("dim"))
    },
    Some("""WITH e AS (
        SELECT label, CAST(g.generate_series AS BIGINT) AS dim,
          round(CAST(embedding[CAST(g.generate_series + 1 AS INT)] AS DOUBLE), 6) AS x
        FROM embeddings, generate_series(0, 63) g),
      agg AS (
        SELECT label, dim, CAST(count(*) AS BIGINT) AS n_vecs,
          CAST(sum(CAST(x AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS s6
        FROM e GROUP BY label, dim)
      SELECT label, dim, n_vecs,
        -- signed integer half-away-from-zero 6-dp (ratio6 discipline)
        CAST((CASE WHEN s6 < 0 THEN -1 ELSE 1 END)
             * ((2 * abs(s6) + n_vecs) // (2 * n_vecs)) AS DOUBLE)
          / 1000000.0 AS mean
      FROM agg ORDER BY label, dim"""))

  // --------------------------------------------------------------- q110
  // k-NN majority-vote classification (k=5) for a deterministic query
  // subset: exact top-k (q54's ranking contract: 4-dp cosine, id
  // tie-break) then one tiny vote aggregate; vote ties break to the
  // smaller label.
  private val q110 = Q(
    "q110_knn_classify",
    (s, d) => {
      graft.ext.Similarity.knnClassify(s, Tables.embeddings(s, d),
          col("vec_id") % 29 === 0, k = 5)
        .orderBy(col("q_id"))
    },
    Some("""WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      nrm AS (
        SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base),
      pairs AS (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id,
          round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4) AS cosine
        FROM nrm q, nrm c
        WHERE q.vec_id % 29 = 0 AND q.vec_id <> c.vec_id),
      topk AS (
        SELECT q_id, n_id FROM (
          SELECT q_id, n_id,
            row_number() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, n_id) AS rk
          FROM pairs)
        WHERE rk <= 5),
      votes AS (
        SELECT t.q_id, e.label AS n_label, count(*) AS votes
        FROM topk t JOIN embeddings e ON e.vec_id = t.n_id
        GROUP BY t.q_id, e.label)
      SELECT q_id, n_label AS pred_label, CAST(votes AS BIGINT) AS votes
      FROM (
        SELECT q_id, n_label, votes,
          row_number() OVER (PARTITION BY q_id
                             ORDER BY votes DESC, n_label) AS rk
        FROM votes)
      WHERE rk = 1 ORDER BY q_id"""))

  // --------------------------------------------------------------- q111
  // ANN recall@k: exact top-5 (q54 contract) vs the IVF path on q66's
  // EXACT parameters (centroids %50, queries %97, nProbe 2) — the
  // calibration metric that licenses an approximate index. recall is
  // ratio6 (integer half-up 6-dp).
  private val q111 = Q(
    "q111_ann_recall",
    (s, d) => {
      graft.ext.Similarity.annRecall(s, Tables.embeddings(s, d),
          centroidPred = col("vec_id") % 50 === 0,
          queryPred = col("vec_id") % 97 === 0,
          nProbe = 2, k = 5)
        .orderBy(col("q_id"))
    },
    Some("""WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      nrm AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base),
      exact AS (
        SELECT q_id, n_id FROM (
          SELECT q.vec_id AS q_id, c.vec_id AS n_id,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4) DESC,
                       c.vec_id) AS rk
          FROM nrm q, nrm c
          WHERE q.vec_id % 97 = 0 AND q.vec_id <> c.vec_id)
        WHERE rk <= 5),
      cents AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn
                FROM nrm WHERE vec_id % 50 = 0),
      scored AS (
        SELECT b.vec_id, c.centroid_id,
          row_number() OVER (PARTITION BY b.vec_id
                             ORDER BY round(list_dot_product(b.v, c.cv) / (b.nrm * c.cn), 4) DESC,
                                      c.centroid_id) AS rk
        FROM nrm b, cents c),
      assigned AS (SELECT vec_id AS n_id, centroid_id FROM scored WHERE rk = 1),
      queries AS (SELECT vec_id AS q_id, v AS vq, nrm AS nq
                  FROM nrm WHERE vec_id % 97 = 0),
      probes AS (
        SELECT q_id, centroid_id FROM (
          SELECT q.q_id, c.centroid_id,
            row_number() OVER (PARTITION BY q.q_id
                               ORDER BY round(list_dot_product(q.vq, c.cv) / (q.nq * c.cn), 4) DESC,
                                        c.centroid_id) AS pr
          FROM queries q, cents c)
        WHERE pr <= 2),
      rer AS (
        SELECT p.q_id, a.n_id,
          round(list_dot_product(q.vq, n.v) / (q.nq * n.nrm), 4) AS cosine
        FROM probes p
        JOIN assigned a USING (centroid_id)
        JOIN queries q ON p.q_id = q.q_id
        JOIN nrm n ON a.n_id = n.vec_id
        WHERE a.n_id <> p.q_id),
      approx AS (
        SELECT q_id, n_id FROM (
          SELECT q_id, n_id,
            row_number() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, n_id) AS rank
          FROM rer)
        WHERE rank <= 5),
      hits AS (
        SELECT e.q_id,
          CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
        FROM exact e
        LEFT JOIN approx a ON a.q_id = e.q_id AND a.n_id = e.n_id
        GROUP BY e.q_id)
      -- integer half-up 6-dp (ratio6 discipline)
      SELECT q_id, hits,
        CAST((2 * hits * 1000000 + 5) // 10 AS DOUBLE) / 1000000.0 AS recall
      FROM hits ORDER BY q_id"""))

  // --------------------------------------------------------------- q112
  // Exact-percentile length band [p05, p95]: the self-calibrating
  // length filter. Bounds are one tiny counts-map aggregate broadcast
  // back; rounded to 6 dp on BOTH engines so interpolation association
  // order cannot flip an integer-boundary membership.
  private val q112 = Q(
    "q112_length_band",
    (s, d) => {
      graft.ext.Corpus.lengthBandFilter(Tables.documents(s, d), 0.05, 0.95)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, source, n_chars FROM documents
      WHERE n_chars >= round((SELECT quantile_cont(n_chars, 0.05) FROM documents), 6)
        AND n_chars <= round((SELECT quantile_cont(n_chars, 0.95) FROM documents), 6)
      ORDER BY doc_id"""))

  // --------------------------------------------------------------- q113
  // Per-source duplication profile: WHICH source pumps boilerplate —
  // two partial-aggregable phases (source+hash, then source), ratio6.
  private val q113 = Q(
    "q113_dup_profile",
    (s, d) => {
      graft.ext.Corpus.dupProfileBySource(Tables.documents(s, d))
        .orderBy(col("source"))
    },
    Some("""WITH per AS (
        SELECT source, md5(text) AS h, count(*) AS n
        FROM documents GROUP BY source, md5(text))
      SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
        CAST(count(*) AS BIGINT) AS n_distinct,
        -- integer half-up 6-dp (ratio6 discipline)
        CAST((2 * (sum(n) - count(*)) * 1000000 + sum(n)) // (2 * sum(n)) AS DOUBLE)
          / 1000000.0 AS dup_ratio
      FROM per GROUP BY source ORDER BY source"""))

  // --------------------------------------------------------------- q114
  // Corpus manifest: per-source doc count, char volume, and an order-
  // independent 48-bit content fingerprint (bit_xor of md5-derived doc
  // hashes) — the change-detection artifact a pipeline publishes with
  // each corpus snapshot (two manifests differ ⇔ content changed,
  // regardless of partitioning or row order). One partial-aggregable
  // groupBy; xor is associative+commutative so map-side combine holds.
  private val q114 = Q(
    "q114_corpus_manifest",
    (s, d) => {
      graft.ext.Corpus.manifest(Tables.documents(s, d))
        .orderBy(col("source"))
    },
    Some("""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(len(text)) AS BIGINT) AS total_chars,
        bit_xor(CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT)) AS content_fp
      FROM documents GROUP BY source ORDER BY source"""))

  // --------------------------------------------------------------- q115
  // Top-5 terms per source (count desc, term asc tie-break) — the
  // vocabulary-drift probe run per corpus slice. Word histogram is one
  // map-side-combined groupBy keyed (source, word) — far wider than
  // |sources|, so no hot key — and the rank window sees only distinct
  // words per source, never token occurrences.
  private val q115 = Q(
    "q115_top_terms",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n").desc, col("word"))
      Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
        .groupBy(col("source"), col("word"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .orderBy(col("source"), col("rank"))
    },
    Some("""WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
      hist AS (
        SELECT source, word, CAST(count(*) AS BIGINT) AS n
        FROM tok GROUP BY source, word)
      SELECT source, word, n,
        CAST(row_number() OVER (PARTITION BY source
                                ORDER BY n DESC, word) AS BIGINT) AS rank
      FROM hist QUALIFY rank <= 5 ORDER BY source, rank"""))

  // --------------------------------------------------------------- q116
  // IVF search through a PERSISTED index on q66's exact parameters,
  // sharing q66's oracle VERBATIM: writeIvfIndex → ivfTopKIndexed must
  // return the identical ranking the inline ivfTopK computes — the
  // driver proves the build-once/query-many path ≡ the one-shot path
  // (the q103/q105 pattern, applied to ANN). The index is built into a
  // temp dir per invocation (deleted at JVM exit); at production scale
  // it is built once and probed many times with partition-pruned cell
  // reads.
  private val q116 = Q(
    "q116_ivf_indexed",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir = graft.core.TempDir("graft-ivfidx").toString
      graft.ext.Similarity.writeIvfIndex(s, emb,
        centroidPred = col("vec_id") % 50 === 0, dir,
        trainIters = 0) // q66's SQL-replayable seed assignment
      graft.ext.Similarity.ivfTopKIndexed(s, dir,
          emb.filter(col("vec_id") % 97 === 0), nProbe = 2, k = 5)
        .orderBy(col("q_id"), col("rank"))
    },
    ExtQueries.qs.find(_.name == "q66_ivf_topk").get.oracle) // q66 VERBATIM

  // --------------------------------------------------------------- q117
  // Seeded global training order (seed 7, 8 shards): dense rank over
  // md5('7:' || doc_id) with doc_id tie-break. The oracle computes the
  // naive single-sort row_number; the Spark side computes the identical
  // permutation via 256 hash-range buckets + prefix offsets — the
  // driver proves bucketed-two-phase ≡ global-sort, the property that
  // licenses the shape where a one-task total sort cannot run.
  private val q117 = Q(
    "q117_epoch_order",
    (s, d) => {
      graft.ext.Corpus.epochOrder(Tables.documents(s, d), seed = 7L,
          nShards = 8)
        .orderBy(col("rank"))
    },
    Some("""WITH h AS (
        SELECT doc_id, md5('7:' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents)
      SELECT doc_id,
        CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS rank,
        CAST((row_number() OVER (ORDER BY h, doc_id) - 1) % 8 AS BIGINT) AS shard
      FROM h ORDER BY rank"""))

  // --------------------------------------------------------------- q118
  // Interpolated bigram-LM score (λ=0.5, top-4096 vocab AND top-4096
  // bigram model): each adjacent pair scores -ln(0.5·cb/cctx +
  // 0.5·cu/N) with unigram backoff when the pair misses the truncated
  // model. Both model tables are top-K-bounded (fully tie-broken
  // ORDER BY) and broadcast; NLL follows q80's DECIMAL(18,9) sum
  // discipline so summation order can't move the mean.
  private val q118 = Q(
    "q118_bigram_lm_score",
    (s, d) => {
      graft.ext.TextStats.bigramLmScore(Tables.documents(s, d),
          vocabSize = 4096, topBigrams = 4096)
        .orderBy(col("doc_id"))
    },
    Some("""WITH wd AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents WHERE text IS NOT NULL),
      hist AS (SELECT w, count(*) AS cu FROM wd GROUP BY w),
      vocab AS (SELECT w, cu FROM hist ORDER BY cu DESC, w LIMIT 4096),
      tot AS (SELECT CAST(sum(cu) AS BIGINT) AS n_total FROM hist),
      pairs AS (
        SELECT doc_id, a[CAST(g.generate_series AS INT)] AS w1,
               a[CAST(g.generate_series + 1 AS INT)] AS w2
        FROM (SELECT doc_id, string_split(text, ' ') AS a
              FROM documents WHERE text IS NOT NULL),
             generate_series(1, 99999) g
        WHERE CAST(g.generate_series AS BIGINT) <= CAST(len(a) AS BIGINT) - 1),
      bg AS (SELECT w1, w2, count(*) AS cb FROM pairs GROUP BY w1, w2
             ORDER BY cb DESC, w1, w2 LIMIT 4096),
      ctx AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cctx FROM bg GROUP BY w1),
      scored AS (
        SELECT doc_id,
          CAST(round(-ln(
            0.5 * coalesce(CAST(b.cb AS DOUBLE) / CAST(c.cctx AS DOUBLE), 0)
            + 0.5 * (CAST(coalesce(v.cu, 1) AS DOUBLE)
                     / CAST(t.n_total AS DOUBLE))), 9) AS DECIMAL(18,9)) AS nll
        FROM pairs p
        LEFT JOIN bg b ON b.w1 = p.w1 AND b.w2 = p.w2
        LEFT JOIN ctx c ON c.w1 = p.w1
        LEFT JOIN vocab v ON v.w = p.w2, tot t)
      SELECT doc_id, count(*) AS n_pairs,
        round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS avg_nll
      FROM scored GROUP BY doc_id ORDER BY doc_id"""))

  // --------------------------------------------------------------- q119
  // The compiled-narrow LM score on q118's exact parameters, sharing
  // q118's oracle VERBATIM: trainLmModel collects the same K-bounded
  // tables the relational form broadcasts, and the bigram_lm reference
  // object re-derives every rounding hop (nll nanos, DECIMAL→double,
  // 6-dp mean) — the driver proves compiled ≡ relational ≡ DuckDB,
  // the q96/q101 oracle-twin pattern applied to LM filtering.
  private val q119 = Q(
    "q119_lm_score_narrow",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val model = graft.ext.TextStats.trainLmModel(docs,
        vocabSize = 4096, topBigrams = 4096)
      graft.ext.TextStats.lmScoreNarrow(s, docs, model)
        .orderBy(col("doc_id"))
    },
    q118.oracle) // q118's oracle VERBATIM

  val qs: Seq[Q] = Seq(q106, q107, q108, q109, q110, q111, q112, q113,
    q114, q115, q116, q117, q118, q119)
}
