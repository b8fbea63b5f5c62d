package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import QUtil._

/** Training-data-pipeline extension operators over `documents` /
  * `embeddings` (builder-prompt north star; SURVEY.md §7.4): exact and
  * near-dup dedup (MinHash-LSH, SimHash, n-gram Jaccard), similarity
  * search (brute-force cosine baseline + hyperplane-LSH scale path), and
  * text analysis (language scoring, quality, tokenization, fingerprints).
  *
  * Scale notes (100 TB design):
  *  - shingling/minhash are narrow per-row transforms + one hash-partition
  *    aggregate on doc_id — no cross-doc shuffle until the (tiny) LSH
  *    bucket join;
  *  - LSH banding turns the O(n²) pair space into per-bucket joins —
  *    bucket keys are uniformly-distributed hashes, so the shuffle is
  *    skew-free by construction;
  *  - brute-force cosine is deliberately bounded to a query subset (the
  *    honest baseline); the LSH path is the one that scales.
  *
  * Every deterministic hash routes through md5 (identical bytes on every
  * engine) — see QUtil.
  */
object ExtQueries {

  /** Char-8-gram shingle rows: (doc_id, sh). Narrow explode. The
    * operator's CONTRACT caps shingling at the first 4096 positions
    * (graft.ext MaxShinglePos) — a deliberate bound shared by the Spark
    * side, the minhash48 expression, and the DuckDB oracle, so long
    * documents cannot diverge the engines (and per-doc work is bounded
    * at scale). */
  private def shingles(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("pos",
        explode(sequence(lit(1),
          least(greatest(length(col("text")) - 7, lit(1)),
            lit(graft.functions.MinHash48.MaxShinglePos)))))
      .select(col("doc_id"), col("text").substr(col("pos"), lit(8)).as("sh"))

  // DuckDB 1.0 generate_series accepts only CONSTANT bounds (no lateral
  // or subquery parameters); the constant bound IS the operator's
  // 4096-position cap.
  private[queries] val shingleCte =
    s"""sh AS (
      |  SELECT DISTINCT doc_id, substr(text, CAST(g.generate_series AS INT), 8) AS sh
      |  FROM documents, generate_series(1, ${graft.functions.MinHash48.MaxShinglePos}) g
      |  WHERE g.generate_series <= greatest(len(text) - 7, 1))""".stripMargin

  // ---------------------------------------------------------------- q50
  // Exact dedup: content-hash groupBy keeping the smallest doc_id as
  // canonical (the OP-J2 idempotence primitive generalized to content).
  private val q50 = Q(
    "q50_dedup_exact",
    (s, d) => {
      graft.ext.Dedup.exact(Tables.documents(s, d)).orderBy(col("keep_id"))
    },
    Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        count(*) AS n_copies
      FROM documents GROUP BY md5(text) ORDER BY keep_id"""))

  // ---------------------------------------------------------------- q51
  // MinHash signatures via the custom Catalyst expression
  // graft.functions.MinHash48: the whole k-permutation signature is a
  // pure per-row function of the text, so the plan is completely NARROW
  // — no shingle explode (hundreds of rows per doc), no hash aggregate.
  // Same xor-family as the relational form (one md5 per shingle, 48-bit
  // prefix, min of h XOR salt_p), so the DuckDB oracle is unchanged.
  private[queries] val salts: Seq[Long] = graft.functions.MinHash48.defaultSalts

  // The full LSH-candidates → recursive-connected-components CTE chain
  // (q65's oracle up to the final SELECT), shared verbatim with the
  // round-6 cluster-split oracle (q123) so both replay the identical
  // clustering.
  private[queries] val clusterCtes =
    s"""$shingleCte,
      h AS (SELECT doc_id, CAST(('0x' || substr(md5(sh),1,12)) AS BIGINT) AS h48 FROM sh),
      sig AS (
        SELECT doc_id,
          min(xor(h48, ${salts(0)})) AS m0, min(xor(h48, ${salts(1)})) AS m1,
          min(xor(h48, ${salts(2)})) AS m2, min(xor(h48, ${salts(3)})) AS m3
        FROM h GROUP BY doc_id),
      buckets AS (
        SELECT doc_id, 0 AS band, m0 AS bucket FROM sig UNION ALL
        SELECT doc_id, 1, m1 FROM sig UNION ALL
        SELECT doc_id, 2, m2 FROM sig UNION ALL
        SELECT doc_id, 3, m3 FROM sig),
      small AS (
        SELECT doc_id, band, bucket FROM (
          SELECT doc_id, band, bucket,
                 count(*) OVER (PARTITION BY band, bucket) AS bsize
          FROM buckets)
        WHERE bsize <= 10),
      pairs AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM small a JOIN small b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
      edges AS (
        SELECT a_id AS a, b_id AS b FROM pairs
        UNION SELECT b_id, a_id FROM pairs),
      reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)"""

  private val q51 = Q(
    "q51_minhash_signature",
    (s, d) => {
      graft.ext.Dedup.minhashSignatures(s, Tables.documents(s, d))
        .select(col("doc_id") +: salts.indices.map(p =>
          expr(s"element_at(sig, ${p + 1})").as(s"m$p")): _*)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $shingleCte,
      h AS (SELECT doc_id, CAST(('0x' || substr(md5(sh),1,12)) AS BIGINT) AS h48 FROM sh)
      SELECT doc_id,
        ${salts.zipWithIndex.map { case (salt, p) => s"min(xor(h48, $salt)) AS m$p" }.mkString(",\n        ")}
      FROM h GROUP BY doc_id ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q52
  // LSH banding: 4 single-row bands over the minhash signature; candidate
  // pairs = docs sharing ≥1 band bucket. The bucket join replaces the
  // O(n²) pair enumeration — this is the 100 TB dedup path. Degenerate
  // buckets (>10 docs — a corpus-wide common min-shingle carries no
  // near-dup signal) are dropped BEFORE the self-join, which bounds
  // per-bucket work at s(s-1)/2 ≤ 45 and kills join skew: at sf0.1 this
  // is 4.9k pairs instead of 1.67M.
  private val q52 = Q(
    "q52_lsh_candidates",
    (s, d) => {
      graft.ext.Dedup.lshCandidates(s, Tables.documents(s, d))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some(s"""WITH $shingleCte,
      h AS (SELECT doc_id, CAST(('0x' || substr(md5(sh),1,12)) AS BIGINT) AS h48 FROM sh),
      sig AS (
        SELECT doc_id,
          min(xor(h48, ${salts(0)})) AS m0, min(xor(h48, ${salts(1)})) AS m1,
          min(xor(h48, ${salts(2)})) AS m2, min(xor(h48, ${salts(3)})) AS m3
        FROM h GROUP BY doc_id),
      buckets AS (
        SELECT doc_id, 0 AS band, m0 AS bucket FROM sig UNION ALL
        SELECT doc_id, 1, m1 FROM sig UNION ALL
        SELECT doc_id, 2, m2 FROM sig UNION ALL
        SELECT doc_id, 3, m3 FROM sig),
      small AS (
        SELECT doc_id, band, bucket FROM (
          SELECT doc_id, band, bucket,
                 count(*) OVER (PARTITION BY band, bucket) AS bsize
          FROM buckets)
        WHERE bsize <= 10)
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared_bands
      FROM small a JOIN small b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      ORDER BY a_id, b_id"""))

  // ---------------------------------------------------------------- q53
  // Exact n-gram Jaccard verification over a deterministic pair set
  // (doc a vs doc a+250): |A∩B| / |A∪B| on char-8-gram sets — the
  // verify stage after LSH candidate generation.
  private val q53 = Q(
    "q53_ngram_jaccard",
    (s, d) => {
      // Single pass: tag each shingle row with its pair id and side,
      // dedupe per (pair, shingle) with side flags, then one aggregate
      // computes |A|, |B|, and |A∩B| together — no self-join, no
      // recomputation of the explode (3 shuffles instead of 11).
      val tagged = shingles(Tables.documents(s, d).filter(col("doc_id") < 500))
        .select(
          (col("doc_id") % 250).as("a_id"), col("sh"),
          (col("doc_id") < 250).cast("long").as("in_a"),
          (col("doc_id") >= 250).cast("long").as("in_b"))
      tagged
        .groupBy(col("a_id"), col("sh"))
        .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
        .groupBy(col("a_id"))
        .agg(
          sum(col("in_a")).as("n_a"), sum(col("in_b")).as("n_b"),
          sum(col("in_a") * col("in_b")).as("n_inter"))
        .filter(col("n_a") > 0 && col("n_b") > 0)
        .select(
          col("a_id"), (col("a_id") + 250).as("b_id"), col("n_a"), col("n_b"),
          graft.ext.Dedup.ratio6(col("n_inter"),
            col("n_a") + col("n_b") - col("n_inter")).as("jaccard"))
        .orderBy(col("a_id"))
    },
    Some(s"""WITH $shingleCte,
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS a_id, count(*) AS n_inter
        FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 250 AND a.sh = b.sh
        GROUP BY a.doc_id)
      SELECT sa.doc_id AS a_id, sa.doc_id + 250 AS b_id,
        sa.n_sh AS n_a, sb.n_sh AS n_b,
        -- integer half-up 6-dp (ratio6 discipline): DOUBLE round()
        -- diverges across engines at decimal midpoints
        CAST((2 * coalesce(n_inter, 0) * 1000000 + sa.n_sh + sb.n_sh - coalesce(n_inter, 0))
             // (2 * (sa.n_sh + sb.n_sh - coalesce(n_inter, 0))) AS DOUBLE)
          / 1000000.0 AS jaccard
      FROM sizes sa
      JOIN sizes sb ON sb.doc_id = sa.doc_id + 250
      LEFT JOIN inter i ON i.a_id = sa.doc_id
      WHERE sa.doc_id < 250
      ORDER BY a_id"""))

  // ---------------------------------------------------------------- q54
  // Brute-force cosine top-3 for a deterministic query subset (vec_id %
  // 50 = 0) — the exact-ANN baseline. Cosine rounded to 4 decimals on
  // both sides (rank on the rounded value, tie-break on neighbor id) so
  // float-summation ULP cannot flip ranks.
  private val q54 = Q(
    "q54_cosine_topk",
    (s, d) => {
      graft.ext.Similarity.cosineTopK(s, Tables.embeddings(s, d),
          col("vec_id") % 50 === 0, k = 3)
        .orderBy(col("q_id"), col("rank"))
    },
    Some("""WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      nrm AS (
        SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base),
      pairs AS (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id,
          round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4)
            + 0.0 AS cosine
        FROM nrm q, nrm c
        WHERE q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id),
      ranked AS (
        SELECT q_id, n_id, cosine,
          CAST(row_number() OVER (PARTITION BY q_id
                                  ORDER BY cosine DESC, n_id) AS BIGINT) AS rank
        FROM pairs)
      SELECT q_id, rank, n_id, cosine FROM ranked
      WHERE rank <= 3 ORDER BY q_id, rank"""))

  // ---------------------------------------------------------------- q55
  // Hyperplane-LSH bucketing — the ANN scale path: 16 md5-derived random
  // hyperplanes → sign bits → 16-bit bucket. Bucket assignment is a
  // narrow join + aggregate (no pair enumeration); at 100 TB top-k runs
  // per-bucket. Signs are robust to FP reassociation (|dot| ≫ ulp).
  private val q55 = Q(
    "q55_ann_lsh_buckets",
    (s, d) => {
      val wb = Window.partitionBy(col("bucket"))
      graft.ext.Similarity.lshBuckets(s, Tables.embeddings(s, d))
        .withColumn("n_in_bucket", count(lit(1)).over(wb))
        .orderBy(col("vec_id"))
    },
    Some("""WITH dims AS (
        SELECT vec_id, CAST(g.generate_series AS BIGINT) AS dim,
               embedding[CAST(g.generate_series + 1 AS INT)] AS x
        FROM embeddings, generate_series(0, 63) g),
      planes AS (
        SELECT CAST(p.generate_series AS BIGINT) AS p,
               CAST(d.generate_series AS BIGINT) AS dim,
          CAST(CAST(('0x' || substr(md5(p.generate_series || ':' || d.generate_series), 1, 6)) AS BIGINT)
               % 2001 - 1000 AS DOUBLE) / 1000.0 AS w
        FROM generate_series(0, 15) p, generate_series(0, 63) d),
      bits AS (
        SELECT vec_id, p,
          CASE WHEN sum(CAST(x AS DOUBLE) * w) >= 0 THEN 1 ELSE 0 END AS bit
        FROM dims JOIN planes USING (dim)
        GROUP BY vec_id, p),
      bucketed AS (
        SELECT vec_id, CAST(sum(bit * CAST(pow(2.0, CAST(p AS DOUBLE)) AS BIGINT)) AS BIGINT) AS bucket
        FROM bits GROUP BY vec_id)
      SELECT vec_id, bucket,
        count(*) OVER (PARTITION BY bucket) AS n_in_bucket
      FROM bucketed ORDER BY vec_id"""))

  // ---------------------------------------------------------------- q56
  // Language/dialect scoring: marker-vocabulary voting (the n-gram
  // heuristic shape of a language-ID pass; the synthetic corpus shares
  // one vocabulary, so the mechanism — not label recovery — is the op).
  private val q56 = Q(
    "q56_lang_score",
    (s, d) => {
      graft.ext.TextStats.langScore(Tables.documents(s, d), Seq(
          "sql" -> Seq("query", "join", "filter", "scan"),
          "exec" -> Seq("spark", "stream", "batch", "window"),
          "store" -> Seq("table", "row", "column", "line"),
          "perf" -> Seq("fast", "slow", "big", "small")))
        .select(col("doc_id"), col("s_sql"), col("s_exec"), col("s_store"),
          col("s_perf"), col("pred"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH s AS (
        SELECT doc_id,
          CAST(len(list_filter(string_split(text, ' '),
            w -> w IN ('query','join','filter','scan'))) AS BIGINT) AS s_sql,
          CAST(len(list_filter(string_split(text, ' '),
            w -> w IN ('spark','stream','batch','window'))) AS BIGINT) AS s_exec,
          CAST(len(list_filter(string_split(text, ' '),
            w -> w IN ('table','row','column','line'))) AS BIGINT) AS s_store,
          CAST(len(list_filter(string_split(text, ' '),
            w -> w IN ('fast','slow','big','small'))) AS BIGINT) AS s_perf
        FROM documents)
      SELECT doc_id, s_sql, s_exec, s_store, s_perf,
        CASE WHEN s_sql = greatest(s_sql, s_exec, s_store, s_perf) THEN 'sql'
             WHEN s_exec = greatest(s_sql, s_exec, s_store, s_perf) THEN 'exec'
             WHEN s_store = greatest(s_sql, s_exec, s_store, s_perf) THEN 'store'
             ELSE 'perf' END AS pred
      FROM s ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q57
  // Quality scoring: length / punctuation / stopword-ratio features and
  // a weighted quality score — all exact rational arithmetic.
  private val q57 = Q(
    "q57_quality_score",
    (s, d) => {
      graft.ext.TextStats.quality(Tables.documents(s, d),
          Seq("the", "a", "of", "and", "to"))
        .select(col("doc_id"), col("n_chars"), col("n_words"),
          col("stop_ratio"), col("punct_ratio"), col("quality"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH f AS (
        SELECT doc_id,
          CAST(len(text) AS BIGINT) AS n_chars,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
          CAST(len(list_filter(string_split(text, ' '),
            w -> w IN ('the','a','of','and','to'))) AS DOUBLE) AS stop,
          CAST(len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct
        FROM documents)
      SELECT doc_id, n_chars, n_words,
        round(stop / CAST(n_words AS DOUBLE), 6) AS stop_ratio,
        round(punct / CAST(n_chars AS DOUBLE), 6) AS punct_ratio,
        round(0.4 * (stop / CAST(n_words AS DOUBLE))
            + 0.3 * least(CAST(n_words AS DOUBLE) / 100.0, 1.0)
            + 0.3 * (1.0 - punct / CAST(n_chars AS DOUBLE)), 6) AS quality
      FROM f ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q58
  // Token counting: whitespace tokens + a BPE-ish regex token stream,
  // with chars-per-token (the training-data budget metric).
  private val q58 = Q(
    "q58_token_count",
    (s, d) => {
      graft.ext.TextStats.tokenCounts(Tables.documents(s, d))
        .select(col("doc_id"), col("ws_tokens"), col("re_tokens"),
          col("chars_per_token"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS re_tokens,
        round(CAST(len(text) AS DOUBLE) /
              CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS DOUBLE), 6) AS chars_per_token
      FROM documents ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q59
  // Document fingerprinting: winnowing-style min-shingle-hash plus an
  // order-insensitive 48-bit xor fingerprint over distinct words.
  private val q59 = Q(
    "q59_fingerprint",
    (s, d) => {
      graft.ext.TextStats.fingerprints(s, Tables.documents(s, d))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $shingleCte,
      min_sh AS (SELECT doc_id,
        min(CAST(('0x' || substr(md5(sh),1,12)) AS BIGINT)) AS fp_min_shingle
        FROM sh GROUP BY doc_id),
      words AS (SELECT DISTINCT doc_id, u.w FROM documents, unnest(string_split(text, ' ')) AS u(w)),
      xf AS (
        SELECT doc_id,
          bit_xor(CAST(('0x' || substr(md5(w), 1, 12)) AS BIGINT)) AS fp_xor
        FROM words GROUP BY doc_id)
      SELECT doc_id, fp_min_shingle, fp_xor
      FROM min_sh JOIN xf USING (doc_id) ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q60
  // Multimodal/binary plumbing: opaque bytes + typed metadata — byte
  // length, sha256 checksum, per-source batch stats (the schema/partition
  // shape of an image/audio column; decode itself is the stubbed external
  // step, see graft.multimodal).
  private val q60 = Q(
    "q60_binary_meta",
    (s, d) => {
      Tables.documents(s, d)
        .select(
          col("source"),
          octet_length(col("text")).cast("long").as("n_bytes"),
          sha2(col("text").cast("binary"), 256).as("sha"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_bytes")).as("total_bytes"),
          min(col("sha")).as("min_sha"))
        .orderBy(col("source"))
    },
    Some("""SELECT source, count(*) AS n_docs,
        CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        min(sha256(text)) AS min_sha
      FROM documents GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- q61
  // SimHash (16-bit): per-word md5 bits vote ±1 per position; simhash
  // bit = majority sign. Computed by the custom simhash16 expression —
  // fully narrow, zero row amplification; the oracle mirrors the
  // equivalent relational form.
  private val q61 = Q(
    "q61_simhash",
    (s, d) => {
      graft.ext.Dedup.simhash(Tables.documents(s, d)).orderBy(col("doc_id"))
    },
    Some("""WITH words AS (
        SELECT doc_id, u.w, CAST(('0x' || substr(md5(u.w), 1, 4)) AS BIGINT) AS h
        FROM documents, unnest(string_split(text, ' ')) AS u(w)),
      votes AS (
        SELECT doc_id, CAST(b.generate_series AS INTEGER) AS b,
          sum(CASE WHEN (h // CAST(pow(2, b.generate_series) AS BIGINT)) % 2 = 1
                   THEN 1 ELSE -1 END) AS v
        FROM words, generate_series(0, 15) b
        GROUP BY doc_id, b.generate_series)
      SELECT doc_id,
        CAST(sum(CASE WHEN v >= 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q62
  // IVF-style ANN: deterministic centroids (vec_id % 50 == 0), each
  // vector assigned to its max-cosine centroid — the coarse-quantizer
  // scale path (search then runs per cell). Assignment is a broadcast
  // join against ≤ n/50 centroids: narrow at any corpus size.
  private val q62 = Q(
    "q62_ann_ivf_assign",
    (s, d) => {
      val wc = Window.partitionBy(col("centroid_id"))
      graft.ext.Similarity.ivfAssign(s, Tables.embeddings(s, d),
          col("vec_id") % 50 === 0)
        .withColumn("cell_size", count(lit(1)).over(wc))
        .orderBy(col("vec_id"))
    },
    Some("""WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      nrm AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base),
      cents AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn
                FROM nrm WHERE vec_id % 50 = 0),
      scored AS (
        SELECT b.vec_id, c.centroid_id,
          round(list_dot_product(b.v, c.cv) / (b.nrm * c.cn), 4)
            + 0.0 AS cosine,
          row_number() OVER (PARTITION BY b.vec_id
                             ORDER BY round(list_dot_product(b.v, c.cv) / (b.nrm * c.cn), 4) DESC,
                                      c.centroid_id) AS rk
        FROM nrm b, cents c),
      assigned AS (SELECT vec_id, centroid_id, cosine FROM scored WHERE rk = 1)
      SELECT vec_id, centroid_id, cosine,
        count(*) OVER (PARTITION BY centroid_id) AS cell_size
      FROM assigned ORDER BY vec_id"""))

  // ---------------------------------------------------------------- q63
  // Embedding-cosine near-dup dedup: same-label candidate pairs over a
  // deterministic query sample, cosine ≥ 0.35 (on the rounded value) →
  // keep the smaller id. The pair space is blocked by label (the
  // blocking key a real pipeline derives from LSH/IVF cells).
  private val q63 = Q(
    "q63_dedup_embedding",
    (s, d) => {
      // pairSalts=16: 10-label blocking is the coarse-key case salting
      // exists for (the whole sample × members loop of a label lands in
      // one task otherwise — 51.8→15.7s at the 200k decade)
      graft.ext.Similarity.nearDupPairs(s, Tables.embeddings(s, d),
          blockCol = "label", samplePred = col("vec_id") % 10 === 0,
          threshold = 0.35, pairSalts = 16)
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""WITH base AS (
        SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      nrm AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM base),
      pairs AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label,
          round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4)
            + 0.0 AS cosine
        FROM nrm a JOIN nrm b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE a.vec_id % 10 = 0)
      SELECT a_id, b_id, label, cosine, least(a_id, b_id) AS keep_id
      FROM pairs WHERE cosine >= 0.35
      ORDER BY a_id, b_id"""))

  // ---------------------------------------------------------------- q64
  // TF-IDF top-3 terms per document — the inverse-document-frequency
  // weighting every training-data pipeline needs; df is a tiny
  // broadcast aggregate, ranking on the 6-decimal-rounded score so libm
  // ln() ULP differences cannot flip ranks.
  private val q64 = Q(
    "q64_tfidf_topk",
    (s, d) => {
      graft.ext.TextStats.tfidfTopK(Tables.documents(s, d), k = 3)
        .orderBy(col("doc_id"), col("rank"))
    },
    Some("""WITH words AS (
        SELECT doc_id, u.w FROM documents, unnest(string_split(text, ' ')) AS u(w)),
      tf AS (SELECT doc_id, w, count(*) AS tf FROM words GROUP BY 1, 2),
      df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
      scored AS (
        SELECT doc_id, w, tf, df,
          round(tf * ln(CAST(n.n AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
        FROM tf JOIN df USING (w), n),
      ranked AS (
        SELECT doc_id, w, tf, df, tfidf,
          CAST(row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, w) AS BIGINT) AS rank
        FROM scored)
      SELECT doc_id, rank, w AS term, tf, df, tfidf
      FROM ranked WHERE rank <= 3
      ORDER BY doc_id, rank"""))

  // ---------------------------------------------------------------- q65
  // Dedup clusters: connected components over the LSH candidate pairs,
  // each doc labeled with the smallest reachable doc_id (the canonical
  // survivor). Spark side: Dedup.clusters, which at this size takes its
  // driver union-find path; oracle: recursive transitive closure — any
  // correct algorithm agrees on components, so the results are
  // comparable.
  private val q65 = Q(
    "q65_dedup_clusters",
    (s, d) => {
      val pairs = graft.ext.Dedup.lshCandidates(s, Tables.documents(s, d))
      graft.ext.Dedup.clusters(s, pairs)
        .select(col("node").as("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE $clusterCtes
      SELECT a AS doc_id, least(a, min(b)) AS cluster_id
      FROM reach GROUP BY a ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q66
  // Full IVF search: queries (vec_id % 97 == 0) probe their 2 nearest
  // centroids and rerank exactly within the probed cells — the ANN read
  // path on top of q62's coarse quantizer. Candidates are bounded by
  // nProbe cells, never the corpus.
  private val q66 = Q(
    "q66_ivf_topk",
    (s, d) => {
      graft.ext.Similarity.ivfTopK(s, Tables.embeddings(s, d),
          centroidPred = col("vec_id") % 50 === 0,
          queryPred = col("vec_id") % 97 === 0,
          nProbe = 2, k = 5)
        .orderBy(col("q_id"), col("rank"))
    },
    Some("""WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      nrm AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base),
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
        SELECT p.q_id, a.n_id, a.centroid_id,
          round(list_dot_product(q.vq, n.v) / (q.nq * n.nrm), 4)
            + 0.0 AS cosine
        FROM probes p
        JOIN assigned a USING (centroid_id)
        JOIN queries q ON p.q_id = q.q_id
        JOIN nrm n ON a.n_id = n.vec_id
        WHERE a.n_id <> p.q_id)
      SELECT q_id,
        CAST(row_number() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, n_id) AS BIGINT) AS rank,
        n_id, centroid_id, cosine
      FROM rer QUALIFY rank <= 5 ORDER BY q_id, rank"""))

  // ---------------------------------------------------------------- q67
  // Deterministic train/val/test split: md5-derived bucket per doc_id —
  // reproducible across runs/engines/partitioning (no RNG), the split
  // assignment every training pipeline needs. Narrow per-row.
  private val q67 = Q(
    "q67_train_split",
    (s, d) => {
      graft.ext.Sampling.hashSplit(Tables.documents(s, d))
        .select(col("doc_id"), col("source"), col("bucket"), col("split"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, source,
        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket,
        CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
             WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
             ELSE 'test' END AS split
      FROM documents ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q68
  // Context-window packing (budget 512 tokens): per-SHARD cumulative
  // token offsets → bin + in-bin offset. Shard-local window — the
  // global-order variant would serialize the corpus through one task.
  private val q68 = Q(
    "q68_pack_sequences",
    (s, d) => {
      graft.ext.Sampling.packSequences(Tables.documents(s, d), budget = 512)
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
        SELECT source, doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (
        SELECT source, doc_id, n_tokens,
          sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t)
      SELECT source, doc_id, n_tokens,
        CAST((cum - n_tokens) // 512 AS BIGINT) AS bin,
        CAST(cum - n_tokens - ((cum - n_tokens) // 512) * 512 AS BIGINT) AS offset_in_bin
      FROM c ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q69
  // Stopword/boilerplate scrub: word-boundary regex removal + whitespace
  // squeeze, with before/after token counts — the cleaning pass of the
  // pipeline. regexp_replace is byte-identical across engines (DuckDB
  // needs the 'g' flag to match Spark's replace-all).
  private val q69 = Q(
    "q69_stopword_scrub",
    (s, d) => {
      graft.ext.TextStats.scrub(Tables.documents(s, d),
          stopwords = Seq("the", "a", "value", "data"))
        .select(col("doc_id"), col("n_words_before"), col("n_words_after"),
          substring(col("cleaned"), 1, 60).as("cleaned_head"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH s AS (
        SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words_before,
          trim(regexp_replace(regexp_replace(text, '\b(the|a|value|data)\b', '', 'g'),
               ' +', ' ', 'g')) AS cleaned
        FROM documents)
      SELECT doc_id, n_words_before,
        CASE WHEN cleaned = '' THEN 0
             ELSE CAST(len(string_split(cleaned, ' ')) AS BIGINT) END AS n_words_after,
        substr(cleaned, 1, 60) AS cleaned_head
      FROM s ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q70
  // Deterministic per-stratum sample: k smallest md5 id-hashes per
  // source — uniform without RNG, stable under corpus growth (a doc's
  // hash never changes). The downsampling primitive for eval sets.
  private val q70 = Q(
    "q70_stratified_sample",
    (s, d) => {
      graft.ext.Sampling.stratifiedSample(Tables.documents(s, d), k = 5)
        .select(col("doc_id"), col("source"), col("sample_rank"))
        .orderBy(col("source"), col("doc_id"))
    },
    Some("""WITH h AS (
        SELECT doc_id, source,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM documents)
      SELECT doc_id, source,
        CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS sample_rank
      FROM h QUALIFY sample_rank <= 5 ORDER BY source, doc_id"""))

  // ---------------------------------------------------------------- q71
  // Corpus bigram counts: adjacent-pair collocations, top-20 — n-gram
  // statistics with a partial-aggregable groupBy (map-side combine
  // collapses hot bigrams before the shuffle). Both engines index
  // word lists 1-based; docs with <2 words are excluded on both sides.
  private val q71 = Q(
    "q71_bigram_counts",
    (s, d) => {
      graft.ext.TextStats.bigramCounts(Tables.documents(s, d), k = 20)
    },
    Some("""WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      b AS (
        SELECT ws[CAST(g.generate_series AS INT)] || ' ' ||
               ws[CAST(g.generate_series AS INT) + 1] AS bigram
        FROM w, generate_series(1, 4096) g
        WHERE len(ws) >= 2 AND g.generate_series <= len(ws) - 1)
      SELECT bigram, CAST(count(*) AS BIGINT) AS n
      FROM b GROUP BY bigram
      ORDER BY n DESC, bigram LIMIT 20"""))

  // ---------------------------------------------------------------- q72
  // Candidate verification: exact 8-gram Jaccard for every LSH candidate
  // pair via the per-row jaccard8 expression (candidate-bounded — one
  // narrow call per pair after the id joins; the oracle joins exploded
  // shingle sets). Threshold 0.2 keeps genuine near-dups.
  private val q72 = Q(
    "q72_verify_candidates",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = graft.ext.Dedup.lshCandidates(s, docs)
      graft.ext.Dedup.verifyCandidates(s, pairs, docs, threshold = 0.2)
        .orderBy(col("a_id"), col("b_id"))
    },
    Some(s"""WITH $shingleCte,
      h AS (SELECT doc_id, CAST(('0x' || substr(md5(sh),1,12)) AS BIGINT) AS h48 FROM sh),
      sig AS (
        SELECT doc_id,
          min(xor(h48, ${salts(0)})) AS m0, min(xor(h48, ${salts(1)})) AS m1,
          min(xor(h48, ${salts(2)})) AS m2, min(xor(h48, ${salts(3)})) AS m3
        FROM h GROUP BY doc_id),
      buckets AS (
        SELECT doc_id, 0 AS band, m0 AS bucket FROM sig UNION ALL
        SELECT doc_id, 1, m1 FROM sig UNION ALL
        SELECT doc_id, 2, m2 FROM sig UNION ALL
        SELECT doc_id, 3, m3 FROM sig),
      small AS (
        SELECT doc_id, band, bucket FROM (
          SELECT doc_id, band, bucket,
                 count(*) OVER (PARTITION BY band, bucket) AS bsize
          FROM buckets)
        WHERE bsize <= 10),
      pairs AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM small a JOIN small b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
      counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT p.a_id, p.b_id, count(*) AS i
        FROM pairs p
        JOIN sh sa ON sa.doc_id = p.a_id
        JOIN sh sb ON sb.doc_id = p.b_id AND sb.sh = sa.sh
        GROUP BY p.a_id, p.b_id),
      scored AS (
        SELECT p.a_id, p.b_id,
          -- exact half-up 6-dp of the true rational in integer space
          -- (the Spark side's ratio6 discipline): round() of the DOUBLE
          -- quotient diverges across engines at decimal midpoints
          CAST((2 * coalesce(i.i, 0) * 1000000 + ca.n + cb.n - coalesce(i.i, 0))
               // (2 * (ca.n + cb.n - coalesce(i.i, 0))) AS DOUBLE)
            / 1000000.0 AS jaccard
        FROM pairs p
        JOIN counts ca ON ca.doc_id = p.a_id
        JOIN counts cb ON cb.doc_id = p.b_id
        LEFT JOIN inter i ON i.a_id = p.a_id AND i.b_id = p.b_id)
      SELECT a_id, b_id, jaccard FROM scored
      WHERE jaccard >= 0.2 ORDER BY a_id, b_id"""))

  // ---------------------------------------------------------------- q73
  // Repetition quality filters (Gopher-rule family): duplicate-word
  // fraction (narrow) + top-bigram fraction (doc-keyed aggregate).
  private val q73 = Q(
    "q73_repetition",
    (s, d) => {
      graft.ext.TextStats.repetition(Tables.documents(s, d))
        .orderBy(col("doc_id"))
    },
    Some("""WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      narrow AS (
        SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
          round(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE)
                / CAST(len(ws) AS DOUBLE), 6) AS dup_word_frac
        FROM w),
      bg AS (
        SELECT doc_id,
          ws[CAST(g.generate_series AS INT)] || ' ' ||
          ws[CAST(g.generate_series AS INT) + 1] AS bg
        FROM w, generate_series(1, 4096) g
        WHERE len(ws) >= 2 AND g.generate_series <= len(ws) - 1),
      bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
      tb AS (
        SELECT doc_id,
          round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS top_bigram_frac
        FROM bgc GROUP BY doc_id)
      SELECT n.doc_id, n.n_words, n.dup_word_frac,
        coalesce(tb.top_bigram_frac, 0.0) AS top_bigram_frac
      FROM narrow n LEFT JOIN tb ON tb.doc_id = n.doc_id
      ORDER BY n.doc_id"""))

  // ---------------------------------------------------------------- q74
  // LSH cap diagnostics (OP-A5 discipline on the dedup path): what the
  // q52 mega-bucket cap dropped — bucket count, doc×band memberships —
  // plus surviving buckets and the hottest bucket size. The exact,
  // always-present companion to lshCandidates' capMetrics observation
  // (which AQE empty-relation propagation can erase when everything is
  // capped). Two partial-aggregable shuffles, no join.
  private val q74 = Q(
    "q74_lsh_cap_stats",
    (s, d) => {
      graft.ext.Dedup.lshCapStats(s, Tables.documents(s, d))
    },
    Some(s"""WITH $shingleCte,
      h AS (SELECT doc_id, CAST(('0x' || substr(md5(sh),1,12)) AS BIGINT) AS h48 FROM sh),
      sig AS (
        SELECT doc_id,
          min(xor(h48, ${salts(0)})) AS m0, min(xor(h48, ${salts(1)})) AS m1,
          min(xor(h48, ${salts(2)})) AS m2, min(xor(h48, ${salts(3)})) AS m3
        FROM h GROUP BY doc_id),
      buckets AS (
        SELECT doc_id, 0 AS band, m0 AS bucket FROM sig UNION ALL
        SELECT doc_id, 1, m1 FROM sig UNION ALL
        SELECT doc_id, 2, m2 FROM sig UNION ALL
        SELECT doc_id, 3, m3 FROM sig),
      sized AS (SELECT band, bucket, count(*) AS bsize
        FROM buckets GROUP BY band, bucket)
      SELECT
        CAST(sum(CASE WHEN bsize > 10 THEN 1 ELSE 0 END) AS BIGINT) AS dropped_buckets,
        CAST(sum(CASE WHEN bsize > 10 THEN bsize ELSE 0 END) AS BIGINT) AS dropped_doc_slots,
        CAST(sum(CASE WHEN bsize BETWEEN 2 AND 10 THEN 1 ELSE 0 END) AS BIGINT) AS kept_buckets,
        CAST(max(bsize) AS BIGINT) AS max_bucket_size
      FROM sized"""))

  // ---------------------------------------------------------------- q75
  // PII scrub: redact emails then phone-shaped digit runs, counting
  // each — the standard pre-training privacy pass. Deterministic PII is
  // INJECTED identically on both engines (the corpus itself carries
  // none), so the redaction paths do real work under the hash compare.
  // Patterns avoid backreferences/lookaround so Java and RE2 agree.
  private val q75 = Q(
    "q75_pii_scrub",
    (s, d) => {
      val enriched = Tables.documents(s, d).withColumn("text",
        concat(col("text"), lit(" contact user_"), col("doc_id").cast("string"),
          lit("@example.com or +1 (555) 010-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      graft.ext.TextStats.scrubPii(enriched).orderBy(col("doc_id"))
    },
    Some("""WITH enriched AS (
        SELECT doc_id, text || ' contact user_' || CAST(doc_id AS VARCHAR) ||
          '@example.com or +1 (555) 010-' ||
          lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        FROM documents),
      e AS (
        SELECT doc_id,
          len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
          regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS no_email
        FROM enriched)
      SELECT doc_id,
        regexp_replace(no_email, '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS cleaned,
        CAST(n_emails AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(no_email, '\+?[0-9][0-9()\- ]{6,}[0-9]')) AS BIGINT) AS n_phones
      FROM e ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q76
  // Chunk-level corpus dedup (the CCNet "line dedup" shape with 2-word
  // chunks standing in for lines): chunks repeated corpus-wide beyond
  // maxReps are boilerplate and removed from every doc; remainders are
  // reassembled in order. The corpus count is a partial-aggregable
  // groupBy — the hot chunk IS the skew key and map-side combine
  // collapses it before the shuffle.
  private val q76 = Q(
    "q76_chunk_dedup",
    (s, d) => {
      graft.ext.Dedup.dedupChunks(Tables.documents(s, d)).orderBy(col("doc_id"))
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      ch AS (
        SELECT doc_id, gs.generate_series AS ci,
          array_to_string(ws[CAST(gs.generate_series * 2 + 1 AS INT) :
                             CAST(gs.generate_series * 2 + 2 AS INT)], ' ') AS chunk
        FROM w, generate_series(0, 4096) gs
        WHERE gs.generate_series <= CAST(ceil(len(ws) / 2.0) AS INT) - 1),
      cnt AS (SELECT chunk, count(*) AS reps FROM ch GROUP BY chunk)
      SELECT ch.doc_id,
        coalesce(string_agg(ch.chunk, ' ' ORDER BY ch.ci)
          FILTER (WHERE cnt.reps <= 20), '') AS kept_text,
        count(*) AS n_chunks,
        CAST(sum(CASE WHEN cnt.reps > 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_chunks
      FROM ch JOIN cnt USING (chunk)
      GROUP BY ch.doc_id ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q77
  // Benchmark decontamination: flag training docs sharing any word
  // 3-gram with the (doc_id % 50 = 0) eval subset. The eval gram set is
  // benchmark-bounded → broadcastable distinct semi-join; the training
  // side is one narrow explode + doc-keyed aggregate.
  private val q77 = Q(
    "q77_decontaminate",
    (s, d) => {
      graft.ext.TextStats.decontaminate(
        Tables.documents(s, d), col("doc_id") % 50 === 0)
        .orderBy(col("doc_id"))
    },
    Some("""WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws, (doc_id % 50 = 0) AS is_eval
        FROM documents),
      g AS (
        SELECT doc_id, is_eval,
          array_to_string(ws[CAST(gs.generate_series + 1 AS INT) :
                             CAST(gs.generate_series + 3 AS INT)], ' ') AS gram
        FROM w, generate_series(0, 4096) gs
        WHERE gs.generate_series <= least(greatest(len(ws) - 3, 0), 4096)),
      eg AS (SELECT DISTINCT gram FROM g WHERE is_eval),
      sh2 AS (
        SELECT g.doc_id, count(*) AS n FROM g JOIN eg USING (gram)
        WHERE NOT is_eval GROUP BY g.doc_id)
      SELECT d.doc_id,
        CAST(coalesce(sh2.n, 0) AS BIGINT) AS n_shared_grams,
        coalesce(sh2.n, 0) >= 1 AS contaminated
      FROM documents d LEFT JOIN sh2 ON sh2.doc_id = d.doc_id
      WHERE d.doc_id % 50 <> 0
      ORDER BY d.doc_id"""))

  // ---------------------------------------------------------------- q78
  // Deterministic weighted sampling: Bernoulli thinning with an
  // md5-derived 24-bit uniform (EXACT in binary FP — no rounding
  // contract needed for the cross-engine compare) against a
  // length-based quality weight. RNG-free: reproducible on refresh.
  private val q78 = Q(
    "q78_weighted_sample",
    (s, d) => {
      graft.ext.Sampling.weightedSample(
        Tables.documents(s, d),
        least(col("n_chars").cast("double") / 400.0, lit(1.0)))
        .select(col("doc_id"), col("u"), col("keep"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
        CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
          AS DOUBLE) / 16777216.0 AS u,
        CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
          AS DOUBLE) / 16777216.0
          < least(CAST(n_chars AS DOUBLE) / 400.0, 1.0) AS keep
      FROM documents ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q79
  // Temperature-based source mixing (expected kept docs per source
  // ∝ n_s^0.5): per-source histogram → source-bounded weight table →
  // broadcast join → the md5-uniform Bernoulli keep. Weight rounded to
  // 6 decimals on both engines so `u < weight` has no FP-boundary
  // ambiguity (u's granularity is 2⁻²⁴).
  private val q79 = Q(
    "q79_mix_resample",
    (s, d) => {
      graft.ext.Sampling.mixResample(Tables.documents(s, d), alpha = 0.5)
        .select(col("doc_id"), col("source"), col("n_src"),
          col("mix_weight"), col("u"), col("keep"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH cnt AS (SELECT source, count(*) AS n_src FROM documents GROUP BY source),
      mn AS (SELECT min(n_src) AS min_n FROM cnt),
      wt AS (SELECT source, n_src,
          round(pow(CAST(min_n AS DOUBLE) / CAST(n_src AS DOUBLE), 0.5), 6) AS mix_weight
        FROM cnt, mn)
      SELECT d.doc_id, d.source, wt.n_src, wt.mix_weight,
        CAST(CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6) AS BIGINT)
          AS DOUBLE) / 16777216.0 AS u,
        CAST(CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6) AS BIGINT)
          AS DOUBLE) / 16777216.0 < wt.mix_weight AS keep
      FROM documents d JOIN wt USING (source) ORDER BY d.doc_id"""))

  // ---------------------------------------------------------------- q80
  // Unigram-LM quality score (the perplexity-filter shape): corpus word
  // histogram (one pass, checkpointed — vocab-bounded), top-4096 vocab
  // via distributed TakeOrdered, broadcast join, per-word NLL summed as
  // DECIMAL(18,9) so the per-doc sum is order-independent cross-engine.
  private val q80 = Q(
    "q80_lm_score",
    (s, d) => {
      graft.ext.TextStats.lmScore(Tables.documents(s, d), vocabSize = 4096)
        .orderBy(col("doc_id"))
    },
    Some("""WITH wd AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents WHERE text IS NOT NULL),
      hist AS (SELECT w, count(*) AS c FROM wd GROUP BY w),
      vocab AS (SELECT w, c FROM hist ORDER BY c DESC, w LIMIT 4096),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM hist),
      scored AS (
        SELECT doc_id,
          CAST(round(-ln(CAST(coalesce(v.c, 1) AS DOUBLE)
            / CAST(t.n_total AS DOUBLE)), 9) AS DECIMAL(18,9)) AS nll
        FROM wd LEFT JOIN vocab v USING (w), tot t)
      SELECT doc_id, count(*) AS n_words,
        round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS avg_nll
      FROM scored GROUP BY doc_id ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q81
  // As-of join: every click enriched with the latest purchase value at
  // or before it, per user — the shuffle-once tagged-union + ignore-
  // nulls running-last formulation (graft.ext.AsOf), not a range join.
  // Both engines run the identical window, so tie order is pinned by
  // (ts_us, side, event_id).
  private val q81 = Q(
    "q81_asof_join",
    (s, d) => {
      val ev = Tables.events(s, d).withColumn("ts_us", expr("ts DIV 1000"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("value").as("click_value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
      graft.ext.AsOf.joinAsOf(clicks, purchases, Seq("user_id"),
          "ts_us", "event_id", "value", "last_purchase_value")
        .orderBy(col("event_id"))
    },
    Some("""WITH u AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id,
          value AS click_value, 1 AS side, CAST(NULL AS DOUBLE) AS pv
        FROM events WHERE event_type = 'click'
        UNION ALL
        SELECT user_id, epoch_us(ts), event_id, NULL, 0, value
        FROM events WHERE event_type = 'purchase'),
      j AS (
        SELECT user_id, ts_us, event_id, click_value, side,
          last_value(pv IGNORE NULLS) OVER (PARTITION BY user_id
            ORDER BY ts_us, side, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
        FROM u)
      SELECT user_id, ts_us, event_id, click_value, last_purchase_value
      FROM j WHERE side = 1 ORDER BY event_id"""))

  // ---------------------------------------------------------------- q82
  // Corpus-overlap estimate (dataset drift / cross-corpus contamination
  // smell test): per-side aggregate minhash — lane min over ALL the
  // side's shingles, one partial-aggregable pass — then Jaccard ≈
  // fraction of equal lanes. Sides split by doc_id parity here.
  private val q82 = Q(
    "q82_corpus_overlap",
    (s, d) => {
      graft.ext.Dedup.corpusOverlap(s, Tables.documents(s, d),
        col("doc_id") % 2 === 0)
    },
    Some(s"""WITH $shingleCte,
      h AS (SELECT (doc_id % 2 = 0) AS in_a,
          CAST(('0x' || substr(md5(sh),1,12)) AS BIGINT) AS h48 FROM sh),
      lanes AS (SELECT
        ${salts.zipWithIndex.map { case (salt, p) =>
          s"min(CASE WHEN in_a THEN xor(h48, $salt) END) AS a$p,\n        " +
          s"min(CASE WHEN NOT in_a THEN xor(h48, $salt) END) AS b$p"
        }.mkString(",\n        ")}
        FROM h),
      eq AS (SELECT ${salts.indices.map(p =>
          s"CASE WHEN a$p = b$p THEN 1 ELSE 0 END").mkString(" + ")} AS n_eq
        FROM lanes)
      SELECT CAST(${salts.length} AS BIGINT) AS n_lanes,
        CAST(n_eq AS BIGINT) AS n_equal,
        round(CAST(n_eq AS DOUBLE) / ${salts.length}.0, 6) AS j_estimate
      FROM eq"""))

  // ---------------------------------------------------------------- q83
  // Intra-document repetition removal (first occurrence of each 2-word
  // chunk survives, later repeats within the SAME doc are dropped) —
  // pure per-row array algebra on the Spark side: no explode, no
  // window, no shuffle at all. The oracle expresses the same first-
  // occurrence semantics relationally (row_number per doc+chunk).
  private val q83 = Q(
    "q83_dedup_within_doc",
    (s, d) => {
      graft.ext.TextStats.dedupWithinDoc(Tables.documents(s, d))
        .orderBy(col("doc_id"))
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      ch AS (
        SELECT doc_id, gs.generate_series AS ci,
          array_to_string(ws[CAST(gs.generate_series * 2 + 1 AS INT) :
                             CAST(gs.generate_series * 2 + 2 AS INT)], ' ') AS chunk
        FROM w, generate_series(0, 4096) gs
        WHERE gs.generate_series <= CAST(ceil(len(ws) / 2.0) AS INT) - 1),
      firsts AS (
        SELECT doc_id, ci, chunk,
          row_number() OVER (PARTITION BY doc_id, chunk ORDER BY ci) AS rn
        FROM ch)
      SELECT doc_id,
        coalesce(string_agg(chunk, ' ' ORDER BY ci) FILTER (WHERE rn = 1), '') AS kept_text,
        count(*) AS n_chunks,
        CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_chunks
      FROM firsts GROUP BY doc_id ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q84
  // Corpus profiling: per-source doc counts, exact mean length, and
  // exact DISCRETE percentiles (p50/p90) computed relationally — a
  // per-source distributed sort window + rank pick, NOT percentile()
  // (whose exact form buffers every group value in one aggregation
  // buffer — a corpus-sized group OOMs it). All-integer rank picks, so
  // the only FP is the mean (exact BIGINT sum / count, rounded).
  private val q84 = Q(
    "q84_source_profile",
    (s, d) => {
      val wRank = Window.partitionBy(col("source"))
        .orderBy(col("n_chars"), col("doc_id"))
      val wAll = Window.partitionBy(col("source"))
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("rn", row_number().over(wRank))
        .withColumn("n", count(lit(1)).over(wAll))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(sum(col("n_chars")).cast("double") / count(lit(1)), 6).as("mean_chars"),
          max(when(col("rn") === ceil(col("n") * 0.5), col("n_chars"))).as("p50_chars"),
          max(when(col("rn") === ceil(col("n") * 0.9), col("n_chars"))).as("p90_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("source"))
    },
    Some("""WITH ranked AS (
        SELECT source, n_chars,
          row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
          count(*) OVER (PARTITION BY source) AS n
        FROM documents)
      SELECT source, count(*) AS n_docs,
        round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS mean_chars,
        max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN n_chars END) AS p50_chars,
        max(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN n_chars END) AS p90_chars,
        min(n_chars) AS min_chars,
        max(n_chars) AS max_chars
      FROM ranked GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- q85
  // SimHash Hamming near-dup (Manku et al. WWW'07 banding): four 16-bit
  // simhash lanes per doc (codegen'd simhash64 — one md5 per word, zero
  // amplification), exact lane match on ≥1 band → candidate, exact
  // Hamming ≤ 3 verification. Pigeonhole-complete for distance ≤ 3 up
  // to the degenerate-bucket cap. The oracle recomputes the lanes
  // relationally (q61's vote formulation × 4 lanes) and replays the
  // same cap + banding + bit_count verification.
  private val q85 = Q(
    "q85_simhash_neardup",
    (s, d) => {
      graft.ext.Dedup.simhashNearDup(s, Tables.documents(s, d))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""WITH words AS (
        SELECT doc_id, u.w FROM documents, unnest(string_split(text, ' ')) AS u(w)),
      lane_h AS (
        SELECT doc_id, CAST(l.generate_series AS INTEGER) AS lane,
          CAST(('0x' || substr(md5(w), CAST(l.generate_series * 4 + 1 AS INT), 4)) AS BIGINT) AS h
        FROM words, generate_series(0, 3) l),
      votes AS (
        SELECT doc_id, lane, CAST(b.generate_series AS INTEGER) AS b,
          sum(CASE WHEN (h // CAST(pow(2, b.generate_series) AS BIGINT)) % 2 = 1
                   THEN 1 ELSE -1 END) AS v
        FROM lane_h, generate_series(0, 15) b
        GROUP BY doc_id, lane, b.generate_series),
      sig AS (
        SELECT doc_id, lane,
          CAST(sum(CASE WHEN v >= 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS lv
        FROM votes GROUP BY doc_id, lane),
      sized AS (
        SELECT doc_id, lane, lv, count(*) OVER (PARTITION BY lane, lv) AS bsize
        FROM sig),
      -- the census-derived DEFAULT cap (deriveHammingCap's integer
      -- rule: 10 x ceil(n / 65536), floor 10) replayed over the same
      -- signature population, so the oracle tracks the engine at ANY
      -- scale (= 10 at the sf gates)
      cap AS (
        SELECT greatest(10, 10 * ((count(*) + 65535) // 65536)) AS c
        FROM documents WHERE text IS NOT NULL),
      small AS (
        SELECT doc_id, lane, lv FROM sized, cap
        WHERE bsize BETWEEN 2 AND cap.c),
      pairs AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM small a JOIN small b
          ON a.lane = b.lane AND a.lv = b.lv AND a.doc_id < b.doc_id),
      ham AS (
        SELECT p.a_id, p.b_id,
          CAST(sum(bit_count(xor(sa.lv, sb.lv))) AS BIGINT) AS hamming
        FROM pairs p
        JOIN sig sa ON sa.doc_id = p.a_id
        JOIN sig sb ON sb.doc_id = p.b_id AND sb.lane = sa.lane
        GROUP BY p.a_id, p.b_id)
      SELECT a_id, b_id, hamming FROM ham
      WHERE hamming <= 3 ORDER BY a_id, b_id"""))

  // ---------------------------------------------------------------- q86
  // Reorder-invariant exact dedup: md5 of the sorted distinct word set
  // (bag-of-words fingerprint) — catches shuffled/re-repeated copies
  // that q50's byte hash misses, with a deterministic (non-sketch)
  // guarantee. Narrow fingerprint + one partial-aggregable groupBy.
  private val q86 = Q(
    "q86_bow_dedup",
    (s, d) => {
      graft.ext.Dedup.bowDedup(Tables.documents(s, d)).orderBy(col("keep_id"))
    },
    Some("""SELECT
        md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bow_hash,
        min(doc_id) AS keep_id, count(*) AS n_docs
      FROM documents GROUP BY 1 ORDER BY keep_id"""))

  // ---------------------------------------------------------------- q87
  // Cross-doc repeated span detection (the discovery half of Lee et
  // al.'s exact-substring dedup): word 8-grams at the first 4096
  // positions (engine-wide cap contract), spans seen in ≥2 distinct
  // docs, top-20 by (n_docs, n_occ, span). Narrow span generator, one
  // skew-free aggregate on uniformly-distributed text keys, TakeOrdered
  // top-k.
  private val q87 = Q(
    "q87_repeated_spans",
    (s, d) => {
      graft.ext.Dedup.repeatedSpans(Tables.documents(s, d))
    },
    Some(s"""WITH ws AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      spans AS (
        SELECT doc_id,
          array_to_string(w[CAST(g.generate_series AS INT) :
                            CAST(g.generate_series + 7 AS INT)], ' ') AS span
        FROM ws, generate_series(1, ${graft.functions.MinHash48.MaxShinglePos}) g
        WHERE g.generate_series <= len(w) - 7)
      SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
      FROM spans GROUP BY span
      HAVING count(DISTINCT doc_id) >= 2
      ORDER BY n_docs DESC, n_occ DESC, span LIMIT 20"""))

  // ---------------------------------------------------------------- q88
  // Per-doc duplicated-span fraction — the filter signal behind exact-
  // substring dedup (RefinedWeb/Gopher discipline): share of each doc's
  // word 8-grams that also appear in ≥2 distinct docs. Denominator is
  // narrow (word count, no explode); numerator = distinct-doc span
  // count → duplicated-span set → semi-join back → doc-keyed count.
  private val q88 = Q(
    "q88_dup_span_frac",
    (s, d) => {
      graft.ext.Dedup.dupSpanStats(Tables.documents(s, d)).orderBy(col("doc_id"))
    },
    Some(s"""WITH ws AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      meta AS (
        SELECT doc_id,
          CAST(least(greatest(len(w) - 7, 0), ${graft.functions.MinHash48.MaxShinglePos}) AS BIGINT) AS n_spans
        FROM ws),
      spans AS (
        SELECT doc_id,
          array_to_string(w[CAST(g.generate_series AS INT) :
                            CAST(g.generate_series + 7 AS INT)], ' ') AS span
        FROM ws, generate_series(1, ${graft.functions.MinHash48.MaxShinglePos}) g
        WHERE g.generate_series <= len(w) - 7),
      dup_spans AS (
        SELECT span FROM spans GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
      dup AS (
        SELECT doc_id, count(*) AS n_dup
        FROM spans JOIN dup_spans USING (span) GROUP BY doc_id)
      SELECT m.doc_id, m.n_spans,
        CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup_spans,
        CASE WHEN m.n_spans > 0
             THEN round(CAST(coalesce(d.n_dup, 0) AS DOUBLE) / m.n_spans, 6)
             ELSE 0.0 END AS dup_frac
      FROM meta m LEFT JOIN dup d USING (doc_id) ORDER BY m.doc_id"""))

  // ---------------------------------------------------------------- q89
  // Word-distribution Shannon entropy per doc (Gopher entropy filter):
  // H = ln(t) − (Σ c·ln c)/t. Per-word ln rounded to 9 decimals and
  // products summed as exact DECIMALs (order-independent cross-engine —
  // the q80 discipline). Two doc-keyed partial-aggregable groupBys.
  private val q89 = Q(
    "q89_word_entropy",
    (s, d) => {
      graft.ext.TextStats.wordEntropy(Tables.documents(s, d))
        .orderBy(col("doc_id"))
    },
    Some("""WITH wd AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents WHERE text IS NOT NULL),
      cw AS (SELECT doc_id, w, count(*) AS c FROM wd GROUP BY doc_id, w),
      agg AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
          count(*) AS n_distinct,
          sum(CAST(round(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(18,9)) * c) AS s
        FROM cw GROUP BY doc_id)
      SELECT doc_id, n_words, n_distinct,
        round(round(ln(CAST(n_words AS DOUBLE)), 9)
          - CAST(s AS DOUBLE) / n_words, 6) + 0.0 AS entropy
      FROM agg ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q90
  // Per-source length z-score + outlier flag (corpus-mixing anomaly
  // screen). Group moments are exact DECIMAL(38,0) sums (HUGEINT on the
  // oracle side) aggregated map-side and broadcast back — never a stddev
  // window over the corpus; z is one fixed IEEE expression over
  // order-independent inputs.
  private val q90 = Q(
    "q90_length_zscore",
    (s, d) => {
      graft.ext.TextStats.lengthZscore(Tables.documents(s, d))
        .orderBy(col("doc_id"))
    },
    Some("""WITH st AS (
        -- sums stay HUGEINT (no BIGINT downcast): parity with the Spark
        -- side's exact DECIMAL(38,0) accumulation at corpus scale
        SELECT source, count(*) AS n, sum(n_chars) AS s,
          sum(n_chars * n_chars) AS s2
        FROM documents GROUP BY source),
      j AS (
        SELECT d.doc_id, d.source, d.n_chars,
          CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_v,
          CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
            - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS var_v
        FROM documents d JOIN st USING (source)),
      z AS (
        SELECT doc_id, source, n_chars, round(mean_v, 6) AS mean_chars,
          CASE WHEN var_v > 0
               THEN round((CAST(n_chars AS DOUBLE) - mean_v) / sqrt(var_v), 6)
                    + 0.0
               ELSE 0.0 END AS z
        FROM j)
      SELECT doc_id, source, n_chars, mean_chars, z,
        abs(z) >= 2.0 AS is_outlier
      FROM z ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q91
  // Out-of-vocabulary rate vs the corpus's own top-16 vocabulary
  // (tokenizer-coverage signal). Histogram groupBy → TakeOrdered top-K
  // (ties break by word) → broadcast membership join → doc-keyed agg.
  private val q91 = Q(
    "q91_oov_rate",
    (s, d) => {
      graft.ext.TextStats.oovRate(Tables.documents(s, d), vocabSize = 16)
        .orderBy(col("doc_id"))
    },
    Some("""WITH wd AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents WHERE text IS NOT NULL),
      vocab AS (
        SELECT w FROM (SELECT w, count(*) AS c FROM wd GROUP BY w)
        ORDER BY c DESC, w LIMIT 16),
      j AS (
        SELECT wd.doc_id,
          CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
        FROM wd LEFT JOIN vocab v USING (w))
      SELECT doc_id, count(*) AS n_words,
        CAST(sum(oov) AS BIGINT) AS n_oov,
        round(CAST(sum(oov) AS DOUBLE) / count(*), 6) AS oov_rate
      FROM j GROUP BY doc_id ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q92
  // BPE merge statistics: adjacent char-pair counts within words, top-20
  // — the counting pass of one tokenizer-trainer merge iteration. Word
  // positions cap at 4096/doc and pair positions at 64/word (shared
  // cross-engine enumeration bounds). Array transforms, no char explode
  // of raw text; pair keys collapse map-side (≤ |alphabet|² per task).
  private val q92 = Q(
    "q92_bpe_pairs",
    (s, d) => {
      graft.ext.TextStats.bpePairStats(Tables.documents(s, d), k = 20)
    },
    Some(s"""WITH wd AS (
        SELECT unnest((string_split(text, ' '))[1:${graft.functions.MinHash48.MaxShinglePos}]) AS w
        FROM documents WHERE text IS NOT NULL),
      pairs AS (
        SELECT substr(w, CAST(g.generate_series AS INT), 2) AS pair
        FROM wd, generate_series(1, ${graft.ext.TextStats.MaxWordPairPos}) g
        WHERE g.generate_series <= len(w) - 1)
      SELECT pair, count(*) AS n FROM pairs GROUP BY pair
      ORDER BY n DESC, pair LIMIT 20"""))

  // ---------------------------------------------------------------- q93
  // Composite Gopher/C4 quality gate: one verdict row per doc with a
  // violation bitmask (1=length, 2=dup-word, 4=top-bigram, 8=entropy)
  // and the keep decision. Composes the q73 + q89 aggregates with one
  // doc-keyed join; thresholds compare the ROUNDED signals both engines
  // agree on bit-for-bit.
  private val q93 = Q(
    "q93_quality_gate",
    (s, d) => {
      graft.ext.TextStats.gopherFilter(Tables.documents(s, d))
        .orderBy(col("doc_id"))
    },
    Some("""WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws
        FROM documents WHERE text IS NOT NULL),
      narrow AS (
        SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
          round(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE)
                / CAST(len(ws) AS DOUBLE), 6) AS dup_word_frac
        FROM w),
      bg AS (
        SELECT doc_id,
          ws[CAST(g.generate_series AS INT)] || ' ' ||
          ws[CAST(g.generate_series AS INT) + 1] AS bg
        FROM w, generate_series(1, 4096) g
        WHERE len(ws) >= 2 AND g.generate_series <= len(ws) - 1),
      bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
      tb AS (
        SELECT doc_id,
          round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS top_bigram_frac
        FROM bgc GROUP BY doc_id),
      wd AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents WHERE text IS NOT NULL),
      cw AS (SELECT doc_id, w, count(*) AS c FROM wd GROUP BY doc_id, w),
      agg AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS t,
          sum(CAST(round(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(18,9)) * c) AS s
        FROM cw GROUP BY doc_id),
      ent AS (
        SELECT doc_id,
          round(round(ln(CAST(t AS DOUBLE)), 9) - CAST(s AS DOUBLE) / t, 6)
            + 0.0 AS entropy
        FROM agg),
      sig AS (
        SELECT n.doc_id, n.n_words, n.dup_word_frac,
          coalesce(tb.top_bigram_frac, 0.0) AS top_bigram_frac, e.entropy
        FROM narrow n
        LEFT JOIN tb ON tb.doc_id = n.doc_id
        JOIN ent e ON e.doc_id = n.doc_id),
      mask AS (
        SELECT doc_id, n_words, dup_word_frac, top_bigram_frac, entropy,
          CAST(CASE WHEN n_words < 20 OR n_words > 10000 THEN 1 ELSE 0 END
             + CASE WHEN dup_word_frac > 0.6 THEN 2 ELSE 0 END
             + CASE WHEN top_bigram_frac > 0.06 THEN 4 ELSE 0 END
             + CASE WHEN entropy < 2.8 THEN 8 ELSE 0 END AS BIGINT) AS reason_mask
        FROM sig)
      SELECT doc_id, n_words, dup_word_frac, top_bigram_frac, entropy,
        reason_mask, reason_mask = 0 AS keep
      FROM mask ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q96
  // The SAME quality gate as q93, recomputed as pure per-row array
  // algebra (zero shuffles — the streaming-safe form behind
  // Streams.qualityGate). Shares q93's oracle verbatim: the narrow and
  // relational forms must be bit-identical, and this query makes the
  // driver prove it.
  private val q96 = Q(
    "q96_quality_gate_narrow",
    (s, d) => {
      graft.ext.TextStats.gopherFilterNarrow(Tables.documents(s, d))
        .select(col("doc_id"), col("n_words"), col("dup_word_frac"),
          col("top_bigram_frac"), col("entropy"), col("reason_mask"), col("keep"))
        .orderBy(col("doc_id"))
    },
    q93.oracle) // q93's oracle VERBATIM — the two forms must agree bit-for-bit

  // ---------------------------------------------------------------- q94
  // MinHash sketch calibration: estimated Jaccard (equal-lane fraction
  // over all 8 signature lanes) vs TRUE 8-gram Jaccard per LSH candidate
  // pair, with the absolute error — how a pipeline picks its verify
  // threshold empirically. Candidate-bounded like the verify stage; the
  // estimate is an exact dyadic double (integer count / 8) on both
  // engines.
  // the oracle's integer est_jaccard multiplier `1000000 / salts.length`
  // is exact only while |salts| divides 10⁶ — a non-divisor would make
  // the oracle truncate while the Spark side floors in a different
  // integer space, a confusing parity failure (the q100 letters-only
  // discipline: assert build-time, don't assume)
  require(1000000 % salts.length == 0,
    s"q94 oracle needs |salts| to divide 1e6, got ${salts.length}")
  private val q94 = Q(
    "q94_minhash_calibration",
    (s, d) => {
      graft.ext.Dedup.minhashCalibration(s, Tables.documents(s, d))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some(s"""WITH $shingleCte,
      h AS (SELECT doc_id, CAST(('0x' || substr(md5(sh),1,12)) AS BIGINT) AS h48 FROM sh),
      sig AS (
        SELECT doc_id,
          ${salts.zipWithIndex.map { case (salt, p) =>
            s"min(xor(h48, $salt)) AS m$p" }.mkString(",\n          ")}
        FROM h GROUP BY doc_id),
      buckets AS (
        SELECT doc_id, 0 AS band, m0 AS bucket FROM sig UNION ALL
        SELECT doc_id, 1, m1 FROM sig UNION ALL
        SELECT doc_id, 2, m2 FROM sig UNION ALL
        SELECT doc_id, 3, m3 FROM sig),
      small AS (
        SELECT doc_id, band, bucket FROM (
          SELECT doc_id, band, bucket,
                 count(*) OVER (PARTITION BY band, bucket) AS bsize
          FROM buckets)
        WHERE bsize <= 10),
      pairs AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM small a JOIN small b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
      counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT p.a_id, p.b_id, count(*) AS i
        FROM pairs p
        JOIN sh sa ON sa.doc_id = p.a_id
        JOIN sh sb ON sb.doc_id = p.b_id AND sb.sh = sa.sh
        GROUP BY p.a_id, p.b_id),
      scored AS (
        -- integer 6-dp numerators (the Spark side's ratio6 discipline):
        -- est is exact (lanes | 10⁶), true jaccard is half-up-rounded
        -- in integer space, abs_err is their integer difference —
        -- round() of DOUBLE quotients diverges at decimal midpoints
        SELECT p.a_id, p.b_id,
          (${salts.indices.map(p =>
            s"CASE WHEN sa.m$p = sb.m$p THEN 1 ELSE 0 END").mkString(" + ")})
            * ${1000000 / salts.length} AS e6,
          (2 * coalesce(i.i, 0) * 1000000 + ca.n + cb.n - coalesce(i.i, 0))
               // (2 * (ca.n + cb.n - coalesce(i.i, 0))) AS j6
        FROM pairs p
        JOIN sig sa ON sa.doc_id = p.a_id
        JOIN sig sb ON sb.doc_id = p.b_id
        JOIN counts ca ON ca.doc_id = p.a_id
        JOIN counts cb ON cb.doc_id = p.b_id
        LEFT JOIN inter i ON i.a_id = p.a_id AND i.b_id = p.b_id)
      SELECT a_id, b_id,
        CAST(e6 AS DOUBLE) / 1000000.0 AS est_jaccard,
        CAST(j6 AS DOUBLE) / 1000000.0 AS jaccard,
        CAST(abs(e6 - j6) AS DOUBLE) / 1000000.0 AS abs_err
      FROM scored ORDER BY a_id, b_id"""))

  // ---------------------------------------------------------------- q95
  // Per-label embedding-norm profile (vector QA before indexing): narrow
  // per-row dot64 norms, one partial-aggregable label groupBy, mean over
  // exact DECIMAL sums of the 6-dp-rounded norms.
  private val q95 = Q(
    "q95_norm_profile",
    (s, d) => {
      graft.ext.Similarity.normProfile(s, Tables.embeddings(s, d))
        .orderBy(col("label"))
    },
    Some("""WITH nrm AS (
        SELECT label,
          round(sqrt(list_dot_product(
            list_transform(embedding, x -> CAST(x AS DOUBLE)),
            list_transform(embedding, x -> CAST(x AS DOUBLE)))), 6) AS nrm
        FROM embeddings)
      SELECT label, count(*) AS n_vecs,
        min(nrm) AS min_norm, max(nrm) AS max_norm,
        round(CAST(sum(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE)
          / CAST(count(*) AS DOUBLE), 6) AS mean_norm,
        CAST(sum(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
      FROM nrm GROUP BY label ORDER BY label"""))

  // ---------------------------------------------------------------- q97
  // Cross-source leakage matrix: verified near-dup pair counts + mean
  // Jaccard per canonicalized source pair — corpus governance over the
  // same candidate-bounded LSH→verify chain as q72, with one rollup.
  private val q97 = Q(
    "q97_source_leakage",
    (s, d) => {
      graft.ext.Dedup.sourceLeakage(s, Tables.documents(s, d), threshold = 0.2)
        .orderBy(col("source_1"), col("source_2"))
    },
    Some(s"""WITH $shingleCte,
      h AS (SELECT doc_id, CAST(('0x' || substr(md5(sh),1,12)) AS BIGINT) AS h48 FROM sh),
      sig AS (
        SELECT doc_id,
          min(xor(h48, ${salts(0)})) AS m0, min(xor(h48, ${salts(1)})) AS m1,
          min(xor(h48, ${salts(2)})) AS m2, min(xor(h48, ${salts(3)})) AS m3
        FROM h GROUP BY doc_id),
      buckets AS (
        SELECT doc_id, 0 AS band, m0 AS bucket FROM sig UNION ALL
        SELECT doc_id, 1, m1 FROM sig UNION ALL
        SELECT doc_id, 2, m2 FROM sig UNION ALL
        SELECT doc_id, 3, m3 FROM sig),
      small AS (
        SELECT doc_id, band, bucket FROM (
          SELECT doc_id, band, bucket,
                 count(*) OVER (PARTITION BY band, bucket) AS bsize
          FROM buckets)
        WHERE bsize <= 10),
      pairs AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM small a JOIN small b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
      counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT p.a_id, p.b_id, count(*) AS i
        FROM pairs p
        JOIN sh sa ON sa.doc_id = p.a_id
        JOIN sh sb ON sb.doc_id = p.b_id AND sb.sh = sa.sh
        GROUP BY p.a_id, p.b_id),
      scored AS (
        SELECT p.a_id, p.b_id,
          -- exact half-up 6-dp of the true rational in integer space
          -- (the Spark side's ratio6 discipline): round() of the DOUBLE
          -- quotient diverges across engines at decimal midpoints
          CAST((2 * coalesce(i.i, 0) * 1000000 + ca.n + cb.n - coalesce(i.i, 0))
               // (2 * (ca.n + cb.n - coalesce(i.i, 0))) AS DOUBLE)
            / 1000000.0 AS jaccard
        FROM pairs p
        JOIN counts ca ON ca.doc_id = p.a_id
        JOIN counts cb ON cb.doc_id = p.b_id
        LEFT JOIN inter i ON i.a_id = p.a_id AND i.b_id = p.b_id),
      kept AS (SELECT * FROM scored WHERE jaccard >= 0.2),
      lab AS (
        SELECT least(da.source, db.source) AS source_1,
          greatest(da.source, db.source) AS source_2, k.jaccard
        FROM kept k
        JOIN documents da ON da.doc_id = k.a_id
        JOIN documents db ON db.doc_id = k.b_id)
      SELECT source_1, source_2, count(*) AS n_pairs,
        round(CAST(sum(CAST(jaccard AS DECIMAL(18,6))) AS DOUBLE)
          / CAST(count(*) AS DOUBLE), 6) AS mean_jaccard
      FROM lab GROUP BY source_1, source_2
      ORDER BY source_1, source_2"""))

  // ---------------------------------------------------------------- q98
  // Canonicalization before hashing: casefold + control-char strip +
  // whitespace collapse + trim, with the canonical md5 — two renderings
  // of the same content must collapse to one fingerprint before any
  // dedup pass. Narrow per-row regex.
  private val q98 = Q(
    "q98_normalize",
    (s, d) => {
      graft.ext.TextStats.normalize(Tables.documents(s, d))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
        trim(regexp_replace(regexp_replace(lower(text), '[\x00-\x1F]', ' ', 'g'),
             ' +', ' ', 'g')) AS canonical,
        trim(regexp_replace(regexp_replace(lower(text), '[\x00-\x1F]', ' ', 'g'),
             ' +', ' ', 'g')) <> text AS changed,
        md5(trim(regexp_replace(regexp_replace(lower(text), '[\x00-\x1F]', ' ', 'g'),
             ' +', ' ', 'g'))) AS canonical_hash
      FROM documents WHERE text IS NOT NULL ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q99
  // SimHash cap diagnostics (OP-A5 discipline on the simhash near-dup
  // path): what q85's mega-bucket cap dropped — lane-buckets and the
  // doc×lane memberships they held — plus surviving buckets and the
  // hottest bucket. The exact, always-present companion to
  // simhashNearDup's capMetrics observation, exactly as q74 is to q52.
  // The oracle recomputes the four 16-bit lanes relationally (q85's
  // formulation) and replays the same rollup.
  private val q99 = Q(
    "q99_simhash_cap_stats",
    (s, d) => {
      graft.ext.Dedup.simhashCapStats(s, Tables.documents(s, d))
    },
    Some("""WITH words AS (
        SELECT doc_id, u.w FROM documents, unnest(string_split(text, ' ')) AS u(w)),
      lane_h AS (
        SELECT doc_id, CAST(l.generate_series AS INTEGER) AS lane,
          CAST(('0x' || substr(md5(w), CAST(l.generate_series * 4 + 1 AS INT), 4)) AS BIGINT) AS h
        FROM words, generate_series(0, 3) l),
      votes AS (
        SELECT doc_id, lane, CAST(b.generate_series AS INTEGER) AS b,
          sum(CASE WHEN (h // CAST(pow(2, b.generate_series) AS BIGINT)) % 2 = 1
                   THEN 1 ELSE -1 END) AS v
        FROM lane_h, generate_series(0, 15) b
        GROUP BY doc_id, lane, b.generate_series),
      sig AS (
        SELECT doc_id, lane,
          CAST(sum(CASE WHEN v >= 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS lv
        FROM votes GROUP BY doc_id, lane),
      sized AS (SELECT lane, lv, count(*) AS bsize FROM sig GROUP BY lane, lv),
      -- census-derived DEFAULT cap (see q85): = 10 at the sf gates
      cap AS (
        SELECT greatest(10, 10 * ((count(*) + 65535) // 65536)) AS c
        FROM documents WHERE text IS NOT NULL)
      SELECT
        CAST(sum(CASE WHEN bsize > cap.c THEN 1 ELSE 0 END) AS BIGINT) AS dropped_buckets,
        CAST(sum(CASE WHEN bsize > cap.c THEN bsize ELSE 0 END) AS BIGINT) AS dropped_doc_slots,
        CAST(sum(CASE WHEN bsize BETWEEN 2 AND cap.c THEN 1 ELSE 0 END) AS BIGINT) AS kept_buckets,
        CAST(max(bsize) AS BIGINT) AS max_bucket_size
      FROM sized, cap"""))

  // --------------------------------------------------------------- q100
  // BPE encode with a FIXED literal merge table (the learned-merge
  // round-trip is TextStats4Spec's job — an oracle string can't embed
  // training output): per word, chars expand to space-delimited symbols
  // and each merge is one delimiter-bounded replace, applied in table
  // order. replace() scans left-to-right resuming after each
  // replacement on BOTH engines, so the segmentation is bit-identical.
  // Pure narrow per-row expression chain.
  private val bpeMerges = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n",
    "an" -> "d", "e" -> "r", "o" -> "n", "r" -> "e")
  private val q100 = Q(
    "q100_bpe_encode",
    (s, d) => {
      graft.ext.TextStats.bpeEncode(Tables.documents(s, d), bpeMerges)
        .orderBy(col("doc_id"))
    },
    Some {
      // letters-only merge symbols interpolate into both engines' SQL
      // without escaping (asserted here, not assumed)
      require(bpeMerges.forall { case (l, r) => (l + r).forall(_.isLetter) })
      val base = """concat(' ', regexp_replace(w, '(.)', ' \1', 'g'), ' ')"""
      val chain = bpeMerges.foldLeft(base) { case (acc, (l, r)) =>
        s"replace($acc, ' $l $r ', ' $l$r ')"
      }
      s"""WITH enc AS (
        SELECT doc_id,
          array_to_string(list_transform((string_split(text, ' '))[1:4096],
            w -> trim($chain)), ' </w> ') AS tokens
        FROM documents WHERE text IS NOT NULL)
      SELECT doc_id, tokens,
        len(string_split(tokens, ' ')) AS n_tokens
      FROM enc ORDER BY doc_id"""
    })

  // --------------------------------------------------------------- q101
  // The SAME encode as q100 through the compiled bpe_tokens expression
  // (constant-size tree, per-executor word memo — the ≥1k-merge scale
  // path). Shares q100's oracle verbatim: the chain and compiled forms
  // must be bit-identical, and this query makes the driver prove it
  // (the q96/q93 pattern).
  private val q101 = Q(
    "q101_bpe_encode_fast",
    (s, d) => {
      graft.ext.TextStats.bpeEncodeFast(Tables.documents(s, d), bpeMerges)
        .orderBy(col("doc_id"))
    },
    q100.oracle) // q100's oracle VERBATIM

  // --------------------------------------------------------------- q102
  // The SAME component labeling as q65 through Dedup.clusters' large-
  // graph path, the alternating-star rounds (Kiveris et al., "Connected
  // Components in MapReduce and Beyond" — O(log n) rounds regardless of
  // graph DIAMETER), called directly: below clusters' edge gate the
  // star path would never run at an oracle-checked scale. Shares q65's
  // oracle verbatim: both paths must produce the identical
  // min-id-per-component labeling, and this query makes the driver
  // prove it (the q96/q93, q101/q100 pattern).
  private val q102 = Q(
    "q102_star_components",
    (s, d) => {
      val pairs = graft.ext.Dedup.lshCandidates(s, Tables.documents(s, d))
      graft.ext.Dedup.starComponents(pairs)
        .select(col("node").as("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id"))
    },
    q65.oracle) // q65's oracle VERBATIM

  // --------------------------------------------------------------- q103
  // Persisted-snapshot incremental dedup, oracle-checked end to end:
  // seen = doc_id % 3 != 0 (indexed once via incrementalSnapshot —
  // hash + sig + shingles; seen TEXT never rescanned), increment =
  // doc_id % 3 == 0. A new doc survives iff (a) its content hash is
  // unseen and (b) no candidate pair (band-bucket match against the
  // snapshot, seen-side bucket size ≤ 10) verifies at true shingle
  // Jaccard ≥ 0.7. Both engines compute the division in IEEE double on
  // identical ints, so the threshold compare is engine-proof without
  // the ratio6 rounding (nothing is EMITTED as a rounded decimal here).
  private val q103 = Q(
    "q103_incremental_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val seen = docs.filter(col("doc_id") % 3 =!= 0)
      val fresh = docs.filter(col("doc_id") % 3 === 0)
      // the snapshot is MATERIALIZED once (production: a parquet artifact
      // from writeIncrementalSnapshot, read back column-pruned) — the
      // checkpoint stands in for that artifact; without it the increment
      // plan's four snapshot references would re-run the seen-side
      // hash/sig/shingle pass per reference
      val snapshot = graft.ext.Dedup.incrementalSnapshot(s, seen)
        .localCheckpoint(true)
      graft.ext.Dedup.dedupIncrementalPersisted(s, fresh, snapshot)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $shingleCte,
      h AS (SELECT doc_id, CAST(('0x' || substr(md5(sh),1,12)) AS BIGINT) AS h48 FROM sh),
      sig AS (
        SELECT doc_id,
          min(xor(h48, ${salts(0)})) AS m0, min(xor(h48, ${salts(1)})) AS m1,
          min(xor(h48, ${salts(2)})) AS m2, min(xor(h48, ${salts(3)})) AS m3
        FROM h GROUP BY doc_id),
      buckets AS (
        SELECT doc_id, 0 AS band, m0 AS bucket FROM sig UNION ALL
        SELECT doc_id, 1, m1 FROM sig UNION ALL
        SELECT doc_id, 2, m2 FROM sig UNION ALL
        SELECT doc_id, 3, m3 FROM sig),
      notexact AS (
        SELECT n.* FROM documents n
        WHERE n.doc_id % 3 = 0 AND NOT EXISTS (
          SELECT 1 FROM documents s
          WHERE s.doc_id % 3 != 0 AND md5(s.text) = md5(n.text))),
      -- seen-side buckets, degenerate (> 10 SEEN members) dropped —
      -- the snapshot side is the only side the cap reads
      sbuckets AS (
        SELECT doc_id, band, bucket FROM (
          SELECT b.doc_id, b.band, b.bucket,
                 count(*) OVER (PARTITION BY b.band, b.bucket) AS bsize
          FROM buckets b WHERE b.doc_id % 3 != 0)
        WHERE bsize <= 10),
      cand AS (
        SELECT DISTINCT bn.doc_id AS new_id, bs.doc_id AS seen_id
        FROM buckets bn
        JOIN notexact ne ON ne.doc_id = bn.doc_id
        JOIN sbuckets bs ON bs.band = bn.band AND bs.bucket = bn.bucket),
      counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT c.new_id, c.seen_id, count(*) AS i
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.new_id
        JOIN sh sb ON sb.doc_id = c.seen_id AND sb.sh = sa.sh
        GROUP BY c.new_id, c.seen_id),
      neardup AS (
        SELECT DISTINCT c.new_id
        FROM cand c
        JOIN counts ca ON ca.doc_id = c.new_id
        JOIN counts cb ON cb.doc_id = c.seen_id
        LEFT JOIN inter i ON i.new_id = c.new_id AND i.seen_id = c.seen_id
        WHERE CAST(coalesce(i.i, 0) AS DOUBLE)
              / (ca.n + cb.n - coalesce(i.i, 0)) >= 0.7)
      SELECT doc_id, lang, source FROM notexact
      WHERE doc_id NOT IN (SELECT new_id FROM neardup)
      ORDER BY doc_id"""))

  // --------------------------------------------------------------- q104
  // The one-call corpus dedup pipeline (exact → LSH → Jaccard verify →
  // connected components → anti join), oracle-checked END TO END —
  // previously `dedupCorpus` was pinned only by specs and a 1M-doc
  // scale run (README). Exact survivors are min-doc_id per content hash; LSH
  // buckets and sizes are computed AMONG SURVIVORS (the pipeline
  // re-bands after the exact stage); candidates verify at true Jaccard
  // ≥ 0.7; each verified component keeps only its min-id member.
  private val q104 = Q(
    "q104_dedup_corpus",
    (s, d) => {
      graft.ext.Dedup.dedupCorpus(s, Tables.documents(s, d))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE $shingleCte,
      surv AS (
        SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      h AS (
        SELECT sh.doc_id, CAST(('0x' || substr(md5(sh.sh),1,12)) AS BIGINT) AS h48
        FROM sh JOIN surv USING (doc_id)),
      sig AS (
        SELECT doc_id,
          min(xor(h48, ${salts(0)})) AS m0, min(xor(h48, ${salts(1)})) AS m1,
          min(xor(h48, ${salts(2)})) AS m2, min(xor(h48, ${salts(3)})) AS m3
        FROM h GROUP BY doc_id),
      buckets AS (
        SELECT doc_id, 0 AS band, m0 AS bucket FROM sig UNION ALL
        SELECT doc_id, 1, m1 FROM sig UNION ALL
        SELECT doc_id, 2, m2 FROM sig UNION ALL
        SELECT doc_id, 3, m3 FROM sig),
      small AS (
        SELECT doc_id, band, bucket FROM (
          SELECT doc_id, band, bucket,
                 count(*) OVER (PARTITION BY band, bucket) AS bsize
          FROM buckets)
        WHERE bsize <= 10),
      pairs AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM small a JOIN small b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
      counts AS (
        SELECT sh.doc_id, count(*) AS n FROM sh JOIN surv USING (doc_id)
        GROUP BY sh.doc_id),
      inter AS (
        SELECT p.a_id, p.b_id, count(*) AS i
        FROM pairs p
        JOIN sh sa ON sa.doc_id = p.a_id
        JOIN sh sb ON sb.doc_id = p.b_id AND sb.sh = sa.sh
        GROUP BY p.a_id, p.b_id),
      confirmed AS (
        SELECT p.a_id, p.b_id
        FROM pairs p
        JOIN counts ca ON ca.doc_id = p.a_id
        JOIN counts cb ON cb.doc_id = p.b_id
        LEFT JOIN inter i ON i.a_id = p.a_id AND i.b_id = p.b_id
        WHERE CAST(coalesce(i.i, 0) AS DOUBLE)
              / (ca.n + cb.n - coalesce(i.i, 0)) >= 0.7),
      edges AS (
        SELECT a_id AS a, b_id AS b FROM confirmed
        UNION SELECT b_id, a_id FROM confirmed),
      reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      labels AS (
        SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        FROM reach GROUP BY a),
      dropped AS (SELECT doc_id FROM labels WHERE doc_id != cluster_id)
      SELECT d.doc_id, d.source FROM documents d
      JOIN surv USING (doc_id)
      WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
      ORDER BY d.doc_id"""))

  // --------------------------------------------------------------- q105
  // The recompute-path incremental dedup on the SAME seen/new split as
  // q103, sharing q103's oracle VERBATIM: `dedupIncremental` (re-derives
  // the seen side's hashes/signatures/shingles every increment) and
  // `dedupIncrementalPersisted` (reads them from the snapshot index)
  // must emit identical survivors — the driver proves the
  // recompute ≡ persisted equivalence that ExtApiSpec pins, against an
  // independent engine.
  private val q105 = Q(
    "q105_incremental_recompute",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.ext.Dedup.dedupIncremental(s,
          docs.filter(col("doc_id") % 3 === 0),
          docs.filter(col("doc_id") % 3 =!= 0))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    },
    q103.oracle) // q103's oracle VERBATIM

  val qs: Seq[Q] = Seq(q50, q51, q52, q53, q54, q55, q56, q57, q58, q59,
    q60, q61, q62, q63, q64, q65, q66, q67, q68, q69, q70, q71, q72, q73,
    q74, q75, q76, q77, q78, q79, q80, q81, q82, q83, q84, q85, q86, q87,
    q88, q89, q90, q91, q92, q93, q94, q95, q96, q97, q98, q99, q100, q101,
    q102, q103, q104, q105)
}
