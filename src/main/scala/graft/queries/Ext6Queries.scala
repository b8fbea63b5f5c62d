package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Round-8 batch (q156+): query-time-only twins of the persisted-
  * artifact paths. q116/q126 deliberately rebuild their artifact
  * (IVF index / DSIR model) inside the query so the driver proves
  * build+query ≡ inline — but that makes their BENCH rows charge the
  * one-time build cost to every shot. These rows bench the production
  * steady state: artifact built ONCE per (kind, sfDir) into a memoized
  * fixture dir, the query is load + search/score alone. Oracles are
  * shared VERBATIM with the inline forms (q66 / q124), so correctness
  * still pins search-over-prebuilt ≡ inline end to end.
  */
object Ext6Queries {

  /** Build-once fixture dirs, memoized per (kind, sfDir) for the JVM's
    * lifetime: the first caller builds the artifact, every later call
    * (bench shots 2..n, or a second query sharing the artifact) reuses
    * it. `computeIfAbsent` makes the build exactly-once even under
    * concurrent callers. Bench's per-shot `isolate()` only clears
    * cached relations / persistent RDDs — on-disk fixtures survive, so
    * min-of-N reports the pure query-time cost (the steady state a
    * build-once/query-many deployment runs in). The dirs are deleted
    * at JVM exit. */
  private[queries] object Fixtures {
    private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def dir(kind: String, sfDir: String)(build: String => Unit): String =
      built.computeIfAbsent(s"$kind|$sfDir", { _ =>
        val p = graft.core.TempDir(s"graft-$kind-").toString
        build(p)
        p
      })
  }

  // --------------------------------------------------------------- q156
  // IVF search ONLY, against a PREBUILT persisted index on q66's exact
  // parameters (q116's build+search conflation split apart): the index
  // is written once per sfDir (outside every shot but the first),
  // the query is centroid probe + partition-pruned cell rerank. Shares
  // q66's oracle VERBATIM — same ranking contract as ivfTopK/q116.
  private val q156 = Q(
    "q156_ivf_search_only",
    (s, d) => {
      val idx = Fixtures.dir("ivfidx", d) { p =>
        graft.ext.Similarity.writeIvfIndex(s, Tables.embeddings(s, d),
          centroidPred = col("vec_id") % 50 === 0, p,
          trainIters = 0) // q66's SQL-replayable seed assignment
      }
      graft.ext.Similarity.ivfTopKIndexed(s, idx,
          Tables.embeddings(s, d).filter(col("vec_id") % 97 === 0),
          nProbe = 2, k = 5)
        .orderBy(col("q_id"), col("rank"))
    },
    ExtQueries.qs.find(_.name == "q66_ivf_topk").get.oracle) // q66 VERBATIM

  // --------------------------------------------------------------- q157
  // DSIR scoring ONLY, against a PREBUILT persisted model on q124's
  // exact parameters (q126's train+score conflation split apart): the
  // λ table is trained and persisted once per sfDir, the query is
  // loadDsirModel (bucket-bounded metadata read) + the fully-narrow
  // compiled scorer. Shares q124's oracle VERBATIM — DECIMAL addition
  // is order-free, so persisted-reload cannot move a single ulp.
  private val q157 = Q(
    "q157_dsir_score_only",
    (s, d) => {
      val model = Fixtures.dir("dsir", d) { p =>
        graft.ext.TextStats.writeDsirModel(s,
          graft.ext.TextStats.trainDsirModel(Tables.documents(s, d),
            col("lang") === "en"), p)
      }
      graft.ext.TextStats.dsirScoreNarrow(
          Tables.documents(s, d).filter(col("lang") =!= "en"),
          graft.ext.TextStats.loadDsirModel(s, model))
        .orderBy(col("doc_id"))
    },
    Ext3Queries.qs.find(_.name == "q124_dsir_weight").get.oracle) // q124 VERBATIM

  // --------------------------------------------------------------- q158
  // Search over an INCREMENTALLY GROWN index: the fixture builds the
  // index on the initial crawl (2/3 of the corpus, keeping every
  // centroid id so the centroid set matches q66's), then appendIvfIndex
  // folds the remaining third in — narrow assignment against the
  // persisted centroid table, rows appended into the existing cell
  // partitions, seen vectors scanned zero times. Search over the grown
  // index must equal search over the full corpus: q66's oracle
  // VERBATIM (the q103 increments-≡-full-recompute contract, applied
  // to ANN).
  private val q158 = Q(
    "q158_ivf_append",
    (s, d) => {
      val idx = Fixtures.dir("ivfapp", d) { p =>
        val emb = Tables.embeddings(s, d)
        graft.ext.Similarity.writeIvfIndex(s,
          emb.filter(col("vec_id") % 3 =!= 0 || col("vec_id") % 50 === 0),
          centroidPred = col("vec_id") % 50 === 0, p,
          trainIters = 0) // q66's SQL-replayable seed assignment
        graft.ext.Similarity.appendIvfIndex(s,
          emb.filter(col("vec_id") % 3 === 0 && col("vec_id") % 50 =!= 0), p)
      }
      graft.ext.Similarity.ivfTopKIndexed(s, idx,
          Tables.embeddings(s, d).filter(col("vec_id") % 97 === 0),
          nProbe = 2, k = 5)
        .orderBy(col("q_id"), col("rank"))
    },
    ExtQueries.qs.find(_.name == "q66_ivf_topk").get.oracle) // q66 VERBATIM

  // --------------------------------------------------------------- q159
  // The PERSISTED-running-min k-center (the large-k form: one dot/row
  // per round against a localCheckpointed md column, flat in k) on
  // q146's exact parameters, sharing q146's oracle VERBATIM: double
  // min under Spark's total order is associative, so the chained
  // least() folds the same IEEE distance multiset the literal form's
  // array_min folds — the whole greedy trajectory (picks, selection
  // distances, radius) must hash-check against the same unrolled CTE
  // chain. Ext5Spec pins raw-bit equality to kCenter; this row pins it
  // against an independent engine end to end.
  private val q159 = Q(
    "q159_kcenter_incremental",
    (s, d) => graft.ext.Clustering.kCenterIncremental(s,
      Tables.embeddings(s, d), k = 8),
    Ext5Queries.qs.find(_.name == "q146_kcenter_coreset").get.oracle) // q146 VERBATIM

  // --------------------------------------------------------------- q160
  // The PERSISTED-INDEX winnow increment (writeWinnowIndex +
  // dedupIncrementalWinnowIndexed) on q152's exact split, sharing
  // q152's oracle VERBATIM. The restructure under test: every
  // seen-side table only SCANNED (broadcast new-side hash set into the
  // exact stage, persisted fp→df table instead of a per-increment
  // recount, kept fingerprints broadcast into one posting scan) — the
  // result must still hash-check against the recount form's replay.
  private val q160 = Q(
    "q160_incremental_winnow_indexed",
    (s, d) => {
      val idx = Fixtures.dir("winidx", d) { p =>
        graft.ext.Dedup.writeWinnowIndex(s,
          Tables.documents(s, d).filter(col("doc_id") % 3 =!= 0), p)
      }
      graft.ext.Dedup.dedupIncrementalWinnowIndexed(s,
          Tables.documents(s, d).filter(col("doc_id") % 3 === 0), idx)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    },
    Ext5Queries.qs.find(_.name == "q152_incremental_winnow").get.oracle) // q152 VERBATIM

  // --------------------------------------------------------------- q161
  // HLL register MERGEABILITY, oracle-checked: the corpus sketched in 4
  // independent shards (doc_id % 4), shard register tables combined by
  // element-wise least — the merged estimate must equal the one-pass
  // estimate over the union bit for bit, so q138's oracle is shared
  // VERBATIM. The roll-up property a 100 TB deployment leans on
  // (per-partition / per-day sketches combine without re-reading
  // tokens); Streams.hllDistinct is the same merge across
  // micro-batches, here pinned against an independent engine.
  private val q161 = Q(
    "q161_hll_merged",
    (s, d) => graft.ext.Sketches.hllDistinctMerged(
      Tables.documents(s, d), col("doc_id") % 4),
    Ext4Queries.qs.find(_.name == "q138_hll_distinct").get.oracle) // q138 VERBATIM

  // --------------------------------------------------------------- q162
  // CMS grid mergeability: counters are add-mergeable, so per-shard
  // grids combine by element-wise + and the merged heavy-hitter
  // estimates equal the single-pass grid's — q139's oracle VERBATIM.
  private val q162 = Q(
    "q162_cms_merged",
    (s, d) => graft.ext.Sketches.cmsHeavyHittersMerged(
      Tables.documents(s, d), col("doc_id") % 4),
    Ext4Queries.qs.find(_.name == "q139_cms_heavy_hitters").get.oracle) // q139 VERBATIM

  // --------------------------------------------------------------- q163
  // Winnow-index MERGEABILITY, oracle-checked: the seen corpus (q152's
  // exact seen side) indexed as two DISJOINT shards, combined by
  // mergeWinnowIndexes (docs union + fp-keyed df sum + matching (k, w)
  // — no document re-read), then q152's increment applied against the
  // MERGED index. Bit-equal verdicts ⇒ q152's oracle VERBATIM — the
  // per-shard / per-day index roll-up q161/q162 pin for sketches,
  // extended to the dedup index itself.
  private val q163 = Q(
    "q163_winnow_index_merged",
    (s, d) => {
      val idx = Fixtures.dir("winmerge", d) { p =>
        val seen = Tables.documents(s, d).filter(col("doc_id") % 3 =!= 0)
        graft.ext.Dedup.writeWinnowIndex(s,
          seen.filter(col("doc_id") % 2 === 0), s"$p/shardA")
        graft.ext.Dedup.writeWinnowIndex(s,
          seen.filter(col("doc_id") % 2 =!= 0), s"$p/shardB")
        graft.ext.Dedup.mergeWinnowIndexes(s,
          s"$p/shardA", s"$p/shardB", s"$p/merged")
      }
      graft.ext.Dedup.dedupIncrementalWinnowIndexed(s,
          Tables.documents(s, d).filter(col("doc_id") % 3 === 0),
          s"$idx/merged")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    },
    Ext5Queries.qs.find(_.name == "q152_incremental_winnow").get.oracle) // q152 VERBATIM

  // --------------------------------------------------------------- q164
  // The COMBINED IVF+PQ search path, oracle-checked end to end: the
  // production ANN layout (coarse cells for sub-linear candidate
  // selection, PQ codes for memory-bounded distance math inside the
  // probed cells) was previously spec-pinned only — a trained codebook
  // isn't replayable by an independent engine, but q127's fixed
  // md5-derived codebook is, and q66's probe contract already replays.
  // This row composes both: q66's centroid set + probe ranking, q127's
  // encode + ADC tables, search over the persisted partitioned index.
  private val q164 = Q(
    "q164_ivf_pq_indexed",
    (s, d) => {
      val idx = Fixtures.dir("ivfpq", d) { p =>
        graft.ext.Similarity.writeIvfPqIndexWith(s, Tables.embeddings(s, d),
          centroidPred = col("vec_id") % 50 === 0,
          graft.ext.Similarity.fixedCodebooks(), p)
      }
      graft.ext.Similarity.ivfPqSearch(s, idx,
          Tables.embeddings(s, d).filter(col("vec_id") % 41 === 0),
          nProbe = 2, topK = 3)
        .orderBy(col("q_id"), col("rank"))
    },
    Some("""WITH cb AS (
        SELECT s.generate_series AS s, c.generate_series AS c,
          list((CAST(('0x' || substr(md5('pq:' || s.generate_series || ':'
                 || c.generate_series || ':' || d.generate_series), 1, 6))
                AS BIGINT) % 2001 - 1000) / 1000.0
               ORDER BY d.generate_series) AS cw
        FROM generate_series(0, 3) s, generate_series(0, 7) c,
             generate_series(0, 15) d
        GROUP BY 1, 2),
      base AS (
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
      assigned AS (SELECT vec_id, centroid_id FROM scored WHERE rk = 1),
      sub AS (
        SELECT vec_id, CAST(g.generate_series AS INT) AS s,
          v[CAST(g.generate_series * 16 + 1 AS INT) :
            CAST(g.generate_series * 16 + 16 AS INT)] AS vs
        FROM nrm, generate_series(0, 3) g),
      dist AS (
        SELECT vec_id, sub.s, cb.c,
          list_sum(list_transform(list_zip(vs, cw),
            z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d2
        FROM sub JOIN cb ON cb.s = sub.s),
      codes AS (
        SELECT vec_id, s, c FROM (
          SELECT vec_id, s, c,
            row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rk
          FROM dist) WHERE rk = 1),
      queries AS (SELECT vec_id AS q_id, v AS vq, nrm AS nq
                  FROM nrm WHERE vec_id % 41 = 0),
      probes AS (
        SELECT q_id, centroid_id FROM (
          SELECT q.q_id, c.centroid_id,
            row_number() OVER (PARTITION BY q.q_id
                               ORDER BY round(list_dot_product(q.vq, c.cv) / (q.nq * c.cn), 4) DESC,
                                        c.centroid_id) AS pr
          FROM queries q, cents c)
        WHERE pr <= 2),
      qtbl AS (SELECT vec_id AS q_id, s, c, d2 FROM dist WHERE vec_id % 41 = 0),
      adc AS (
        SELECT q.q_id, n.vec_id AS n_id, a.centroid_id,
          round(list_sum(list(q.d2 ORDER BY q.s)), 6) AS adc_dist2
        FROM codes n
        JOIN assigned a ON a.vec_id = n.vec_id
        JOIN probes p ON p.centroid_id = a.centroid_id
        JOIN qtbl q ON q.s = n.s AND q.c = n.c AND q.q_id = p.q_id
        WHERE q.q_id <> n.vec_id
        GROUP BY q.q_id, n.vec_id, a.centroid_id),
      ranked AS (
        SELECT q_id, n_id, centroid_id, adc_dist2,
          CAST(row_number() OVER (PARTITION BY q_id
                                  ORDER BY adc_dist2, n_id) AS BIGINT) AS rank
        FROM adc)
      SELECT q_id, rank, n_id, centroid_id, adc_dist2 FROM ranked
      WHERE rank <= 3 ORDER BY q_id, rank"""))

  // --------------------------------------------------------------- q165
  // ANN-blocked near-dup pairs: q63's verify semantics (sample side,
  // 4-dp cosine ≥ 0.35, keep = smaller id) with the engine's OWN
  // fixed-grid cells as the blocking key instead of a label — the
  // scale path for generic embedding pair mining (pair work = SemDeDup's
  // O(Σ |sample_i|·cᵢ), tracking cluster geometry rather than corpus
  // size). Replayable end to end: q142's md5-grid assignment + q63's
  // pair verify.
  private val q165 = Q(
    "q165_near_dup_ann",
    (s, d) => {
      // maxCluster = 5000: strictly above any cell the correctness
      // gates can produce (sf0.01 = 500 vectors, sf0.1 = 5000 — a cell
      // can never exceed the corpus), so the oracle needs no cap model;
      // at decade scale it bounds the in-cell pair work observably (the
      // q142 mega-cell treatment — a near-dup corpus collapses the grid
      // into few dense cells and uncapped pair work is ×100 per ×10
      // data by geometry). pairSalts = 16: grid cells are the coarse
      // skewed key salting exists for.
      graft.ext.Similarity.nearDupPairsAnn(s, Tables.embeddings(s, d),
          samplePred = col("vec_id") % 10 === 0, threshold = 0.35,
          maxCluster = 5000, pairSalts = 16)
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""WITH cgrid AS (
        SELECT CAST(j.generate_series AS BIGINT) AS j, d.generate_series AS d,
          CAST(CAST(('0x' || substr(md5('sc:' || j.generate_series || ':'
            || d.generate_series), 1, 6)) AS BIGINT) % 2001 - 1000 AS DOUBLE)
            / 1000.0 AS x
        FROM generate_series(0, 15) j, generate_series(0, 63) d),
      cents AS (SELECT j, list(x ORDER BY d) AS cw FROM cgrid GROUP BY j),
      base AS (
        SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
        FROM embeddings),
      nrm AS (
        SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base),
      dist AS (
        SELECT b.vec_id, c.j,
          list_dot_product(b.v, b.v) - 2 * list_dot_product(b.v, c.cw)
            + list_dot_product(c.cw, c.cw) AS d2
        FROM base b, cents c),
      asg AS (
        SELECT vec_id, j AS centroid FROM (
          SELECT vec_id, j,
            row_number() OVER (PARTITION BY vec_id ORDER BY d2, j) AS rk
          FROM dist) WHERE rk = 1)
      SELECT a.vec_id AS a_id, b.vec_id AS b_id, aa.centroid,
        round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cosine,
        least(a.vec_id, b.vec_id) AS keep_id
      FROM nrm a JOIN asg aa ON aa.vec_id = a.vec_id
      JOIN nrm b ON a.vec_id < b.vec_id
      JOIN asg ab ON ab.vec_id = b.vec_id AND ab.centroid = aa.centroid
      WHERE a.vec_id % 10 = 0
        AND round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= 0.35
      ORDER BY a_id, b_id"""))

  // --------------------------------------------------------------- q166
  // Packed-64-bit Hamming banding/verify (the machinery behind BOTH
  // q85's SimHash near-dup and Multimodal.imageNearDup's perceptual-
  // hash image dedup, factored to Dedup.hammingNearDup) exercised on
  // FIXED signature fixtures both engines derive identically: a 60-bit
  // md5 hash of each doc's (source, n_chars-band) group, XOR the low 3
  // bits of doc_id — so within-group pairs sit at Hamming ≤ 3 by
  // construction while the group structure stresses the mega-bucket
  // cap (sf0.1's big groups cap bands 1-3 and survive only through
  // band 0's split sub-buckets). The dHash/aHash pixel expressions
  // themselves are spec-pinned (MultimodalSpec), like SimHash64 —
  // DuckDB cannot decode images, so the oracle checks the stage that
  // SQL can replay: banding, cap, pair expansion, bit_count verify.
  /** The q166/q169 fixture signatures (both engines derive them
    * identically — see q166's comment). */
  private def phashFixture(s: SparkSession, d: String) =
    Tables.documents(s, d).select(col("doc_id"),
      expr("CAST(conv(substring(md5(concat(source, '#', " +
          "CAST(n_chars DIV 32 AS STRING))), 1, 15), 16, 10) AS BIGINT)")
        .bitwiseXOR(col("doc_id") % 8).as("packed"))

  private val phashSigSql =
    """SELECT doc_id,
         xor(CAST(('0x' || substr(md5(source || '#'
               || CAST(n_chars // 32 AS VARCHAR)), 1, 15)) AS BIGINT),
             doc_id % 8) AS packed
       FROM documents"""

  private val q166 = Q(
    "q166_phash_banding",
    (s, d) => {
      graft.ext.Dedup.hammingNearDup(s, phashFixture(s, d))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""WITH sig AS (
        SELECT doc_id,
          xor(CAST(('0x' || substr(md5(source || '#'
                || CAST(n_chars // 32 AS VARCHAR)), 1, 15)) AS BIGINT),
              doc_id % 8) AS packed
        FROM documents),
      lanes AS (
        SELECT doc_id, packed, CAST(l.generate_series AS INTEGER) AS band,
          (packed // CAST(pow(2, l.generate_series * 16) AS BIGINT)) % 65536 AS bval
        FROM sig, generate_series(0, 3) l),
      sized AS (
        SELECT doc_id, packed, band, bval,
          count(*) OVER (PARTITION BY band, bval) AS bsize
        FROM lanes),
      -- census-derived DEFAULT cap (deriveHammingCap's integer rule,
      -- = 10 at the sf gates) — the oracle tracks the engine's default
      -- at ANY corpus size
      cap AS (
        SELECT greatest(10, 10 * ((count(*) + 65535) // 65536)) AS c
        FROM sig),
      small AS (
        SELECT doc_id, packed, band, bval FROM sized, cap
        WHERE bsize BETWEEN 2 AND cap.c),
      pairs AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
          CAST(bit_count(xor(a.packed, b.packed)) AS BIGINT) AS hamming
        FROM small a JOIN small b
          ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)
      SELECT a_id, b_id, hamming FROM pairs
      WHERE hamming <= 3 ORDER BY a_id, b_id"""))

  // fixture URLs for q167/q168, built from document fields so both
  // engines generate the identical raw string: mixed-case scheme/host,
  // default and non-default ports, tracking params interleaved with
  // real ones, fragments, bare-root and real paths, and five TLD
  // shapes (two of them 2-level country suffixes) — every branch of
  // UrlNorm's contract appears in the corpus
  private val urlFixture =
    """CASE doc_id % 3 WHEN 0 THEN 'http' WHEN 1 THEN 'HTTPS' ELSE 'Http' END
      || '://'
      || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
      || upper(source) || '.'
      || CASE doc_id % 5 WHEN 0 THEN 'Co.UK' WHEN 1 THEN 'COM'
           WHEN 2 THEN 'Org' WHEN 3 THEN 'io' ELSE 'Com.AU' END
      || CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
           WHEN 2 THEN ':8080' ELSE '' END
      || CASE WHEN doc_id % 7 = 0 THEN '/'
           ELSE '/p/' || CAST(doc_id % 97 AS STRING) END
      || CASE doc_id % 6
           WHEN 0 THEN '?utm_source=x&id=' || CAST(doc_id % 50 AS STRING)
           WHEN 1 THEN '?id=' || CAST(doc_id % 50 AS STRING) || '&utm_campaign=z'
           WHEN 2 THEN '?utm_medium=a&gclid=b'
           WHEN 3 THEN '?a=1&fbclid=z&b=2'
           WHEN 4 THEN ''
           ELSE '?ref=home&x=2' END
      || CASE WHEN doc_id % 2 = 0 THEN '#sec-' || CAST(doc_id % 9 AS STRING)
           ELSE '' END"""

  // the oracle's ANALYTIC twin pieces: DuckDB never parses — it derives
  // what normalization must produce straight from the fixture's
  // generative parameters, so the Spark parser is checked against an
  // independently-constructed expected value
  private val oracleSuffix =
    """CASE doc_id % 5 WHEN 0 THEN 'co.uk' WHEN 1 THEN 'com'
         WHEN 2 THEN 'org' WHEN 3 THEN 'io' ELSE 'com.au' END"""
  private val oracleHost =
    s"""(CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END)
       || lower(source) || '.' || ($oracleSuffix)"""
  private val oracleUrlNorm =
    s"""(CASE WHEN doc_id % 3 = 1 THEN 'https' ELSE 'http' END) || '://'
       || $oracleHost
       || (CASE WHEN doc_id % 4 = 2 THEN ':8080'
             WHEN doc_id % 4 = 0 AND doc_id % 3 = 1 THEN ':80'
             WHEN doc_id % 4 = 1 AND doc_id % 3 <> 1 THEN ':443'
             ELSE '' END)
       || (CASE WHEN doc_id % 7 = 0 THEN ''
             ELSE '/p/' || CAST(doc_id % 97 AS VARCHAR) END)
       || (CASE doc_id % 6
             WHEN 0 THEN '?id=' || CAST(doc_id % 50 AS VARCHAR)
             WHEN 1 THEN '?id=' || CAST(doc_id % 50 AS VARCHAR)
             WHEN 3 THEN '?a=1&b=2'
             WHEN 5 THEN '?x=2'
             ELSE '' END)"""

  // --------------------------------------------------------------- q167
  // URL canonicalization (TextStats.urlNormalize / the compiled
  // url_norm expression): lowercase scheme+host, fragment dropped,
  // default ports dropped (http:80 / https:443 — the fixture crosses
  // ports with schemes so BOTH keep-and-drop cases of each port
  // occur), tracking params stripped order-preserving, bare-root '/'
  // dropped, public-suffix-free registered domain. Narrow per-row
  // expression + the output orderBy.
  private val q167 = Q(
    "q167_url_normalize",
    (s, d) => {
      graft.ext.TextStats.urlNormalize(
          Tables.documents(s, d).withColumn("url", expr(urlFixture)))
        .select(col("doc_id"), col("url_norm"), col("host"),
          col("registered_domain"))
        .orderBy(col("doc_id"))
    },
    Some(s"""SELECT doc_id,
        $oracleUrlNorm AS url_norm,
        $oracleHost AS host,
        lower(source) || '.' || ($oracleSuffix) AS registered_domain
      FROM documents ORDER BY doc_id"""))

  // --------------------------------------------------------------- q168
  // Per-registered-domain dup profile — q113's two-phase exact-distinct
  // shape keyed by url_norm's registered_domain instead of the source
  // column: the FIRST grouping every crawl pipeline runs (which domain
  // is pumping boilerplate?). Spark derives the domain through the real
  // URL parser; the oracle derives it analytically — a parser
  // divergence shifts group memberships and fails the hash.
  private val q168 = Q(
    "q168_host_dup_profile",
    (s, d) => {
      graft.functions.Functions.registerAll(s)
      graft.ext.Corpus.dupProfileBySource(
          Tables.documents(s, d)
            .withColumn("url", expr(urlFixture))
            .select(col("text"),
              expr("url_norm(url).registered_domain").as("domain")),
          srcCol = "domain")
        .orderBy(col("domain"))
    },
    Some(s"""WITH u AS (
        SELECT text, lower(source) || '.' || ($oracleSuffix) AS domain
        FROM documents),
      per AS (
        SELECT domain, md5(text) AS h, count(*) AS n
        FROM u GROUP BY domain, md5(text))
      SELECT domain, CAST(sum(n) AS BIGINT) AS n_docs,
        CAST(count(*) AS BIGINT) AS n_distinct,
        CAST((2 * (sum(n) - count(*)) * 1000000 + sum(n)) // (2 * sum(n)) AS DOUBLE)
          / 1000000.0 AS dup_ratio
      FROM per GROUP BY domain ORDER BY domain"""))

  // --------------------------------------------------------------- q169
  // Incremental Hamming intake against a PERSISTED signature index
  // (Dedup.writeHammingIndex/hammingIntake — the crawl-intake path of
  // the perceptual-hash image-dedup family): the seen side (doc_id %
  // 7 ≠ 0 on q166's fixture signatures) is indexed once into the
  // build-once fixture dir; the query pairs the remaining seventh
  // against it — seen signatures scanned, never shuffled, bucket
  // sizes from the persisted metadata-scale census. The oracle
  // replays the seen-side census, cap, band join and bit_count verify
  // from scratch.
  private val q169 = Q(
    "q169_phash_intake",
    (s, d) => {
      val dir = Fixtures.dir("hamidx", d) { p =>
        graft.ext.Dedup.writeHammingIndex(s,
          phashFixture(s, d).filter(col("doc_id") % 7 =!= 0), p)
      }
      graft.ext.Dedup.hammingIntake(s,
          phashFixture(s, d).filter(col("doc_id") % 7 === 0), dir)
        .orderBy(col("a_id"), col("b_id"))
    },
    Some(s"""WITH sig AS ($phashSigSql),
      seen AS (SELECT * FROM sig WHERE doc_id % 7 <> 0),
      newb AS (SELECT * FROM sig WHERE doc_id % 7 = 0),
      ls AS (
        SELECT doc_id, packed, CAST(l.generate_series AS INTEGER) AS band,
          (packed // CAST(pow(2, l.generate_series * 16) AS BIGINT)) % 65536 AS bval
        FROM seen, generate_series(0, 3) l),
      -- the intake derives its cap from the PERSISTED census (sum n / 4
      -- = seen signature count) — replayed here from the seen side
      cap AS (
        SELECT greatest(10, 10 * ((count(*) + 65535) // 65536)) AS c
        FROM seen),
      bs AS (
        SELECT band, bval FROM (
          SELECT band, bval, count(*) AS n FROM ls GROUP BY band, bval), cap
        WHERE n <= cap.c),
      ln AS (
        SELECT doc_id, packed, CAST(l.generate_series AS INTEGER) AS band,
          (packed // CAST(pow(2, l.generate_series * 16) AS BIGINT)) % 65536 AS bval
        FROM newb, generate_series(0, 3) l),
      pairs AS (
        SELECT DISTINCT n.doc_id AS a_id, s.doc_id AS b_id,
          n.packed AS pa, s.packed AS pb
        FROM ln n
        JOIN bs ON bs.band = n.band AND bs.bval = n.bval
        JOIN ls s ON s.band = n.band AND s.bval = n.bval
          AND s.doc_id <> n.doc_id),
      ham AS (
        SELECT a_id, b_id,
          CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
        FROM pairs)
      SELECT a_id, b_id, hamming FROM ham
      WHERE hamming <= 3 ORDER BY a_id, b_id"""))

  // --------------------------------------------------------------- q170
  // The crawl-intake pipeline composed END TO END (Corpus.crawlIntake):
  // q167's URL canonicalization → URL-level dedup → q50's exact
  // content dedup within the increment → q93's Gopher gate → q103's
  // incremental exact+near-dup verdict against the seen snapshot. Every
  // stage is oracle-checked on its own (q167/q50/q93/q103); this row
  // pins the INTEGRATION contract — stage wiring, survivor threading,
  // column passthrough — against an independent engine replaying the
  // same stage sequence. Arrivals = doc_id % 3 = 0 with q167's URL
  // fixture; seen = the q103 snapshot side.
  private val q170 = Q(
    "q170_crawl_intake",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val arrivals = docs.filter(col("doc_id") % 3 === 0)
        .withColumn("url", expr(urlFixture))
      val snapshot = graft.ext.Dedup.incrementalSnapshot(s,
          docs.filter(col("doc_id") % 3 =!= 0))
        .localCheckpoint(true) // q103's materialized-artifact stand-in
      graft.ext.Corpus.crawlIntake(s, arrivals, snapshot)
        .select(col("doc_id"), col("url_norm"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH ${ExtQueries.shingleCte},
      h AS (SELECT doc_id, CAST(('0x' || substr(md5(sh),1,12)) AS BIGINT) AS h48 FROM sh),
      sig AS (
        SELECT doc_id,
          min(xor(h48, ${ExtQueries.salts(0)})) AS m0,
          min(xor(h48, ${ExtQueries.salts(1)})) AS m1,
          min(xor(h48, ${ExtQueries.salts(2)})) AS m2,
          min(xor(h48, ${ExtQueries.salts(3)})) AS m3
        FROM h GROUP BY doc_id),
      buckets AS (
        SELECT doc_id, 0 AS band, m0 AS bucket FROM sig UNION ALL
        SELECT doc_id, 1, m1 FROM sig UNION ALL
        SELECT doc_id, 2, m2 FROM sig UNION ALL
        SELECT doc_id, 3, m3 FROM sig),
      u AS (
        SELECT doc_id, $oracleUrlNorm AS url_norm, lang, source, text
        FROM documents WHERE doc_id % 3 = 0),
      s1 AS (
        -- NULL url_norm passes through (un-canonicalizable URLs are
        -- not evidence of duplication — the engine's stage-1 rule);
        -- the fixture's URLs all parse, but the oracle must model the
        -- stage it checks, not the fixture that happens to feed it
        SELECT doc_id, url_norm, lang, source, text FROM (
          SELECT u.*, min(doc_id) OVER (PARTITION BY url_norm) AS kmin FROM u)
        WHERE doc_id = kmin OR url_norm IS NULL),
      s2 AS (
        SELECT doc_id, url_norm, lang, source, text FROM (
          SELECT s1.*, min(doc_id) OVER (PARTITION BY md5(text)) AS kmin FROM s1)
        WHERE doc_id = kmin),
      gw AS (
        SELECT doc_id, string_split(text, ' ') AS ws
        FROM s2 WHERE text IS NOT NULL),
      gnarrow AS (
        SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
          round(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE)
                / CAST(len(ws) AS DOUBLE), 6) AS dup_word_frac
        FROM gw),
      gbg AS (
        SELECT doc_id,
          ws[CAST(g.generate_series AS INT)] || ' ' ||
          ws[CAST(g.generate_series AS INT) + 1] AS bg
        FROM gw, generate_series(1, 4096) g
        WHERE len(ws) >= 2 AND g.generate_series <= len(ws) - 1),
      gbgc AS (SELECT doc_id, bg, count(*) AS c FROM gbg GROUP BY doc_id, bg),
      gtb AS (
        SELECT doc_id,
          round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS top_bigram_frac
        FROM gbgc GROUP BY doc_id),
      gwd AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM s2 WHERE text IS NOT NULL),
      gcw AS (SELECT doc_id, w, count(*) AS c FROM gwd GROUP BY doc_id, w),
      gagg AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS t,
          sum(CAST(round(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(18,9)) * c) AS s
        FROM gcw GROUP BY doc_id),
      gent AS (
        SELECT doc_id,
          round(round(ln(CAST(t AS DOUBLE)), 9) - CAST(s AS DOUBLE) / t, 6)
            + 0.0 AS entropy
        FROM gagg),
      s3 AS (
        SELECT n.doc_id
        FROM gnarrow n
        LEFT JOIN gtb ON gtb.doc_id = n.doc_id
        JOIN gent e ON e.doc_id = n.doc_id
        WHERE n.n_words >= 20 AND n.n_words <= 10000
          AND n.dup_word_frac <= 0.6
          AND coalesce(gtb.top_bigram_frac, 0.0) <= 0.06
          AND e.entropy >= 2.8),
      notexact AS (
        SELECT s2.doc_id, s2.url_norm, s2.lang, s2.source
        FROM s2 JOIN s3 USING (doc_id)
        WHERE NOT EXISTS (
          SELECT 1 FROM documents s
          WHERE s.doc_id % 3 <> 0 AND md5(s.text) = md5(s2.text))),
      sbuckets AS (
        SELECT doc_id, band, bucket FROM (
          SELECT b.doc_id, b.band, b.bucket,
                 count(*) OVER (PARTITION BY b.band, b.bucket) AS bsize
          FROM buckets b WHERE b.doc_id % 3 <> 0)
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
      SELECT doc_id, url_norm, lang, source FROM notexact
      WHERE doc_id NOT IN (SELECT new_id FROM neardup)
      ORDER BY doc_id"""))

  // --------------------------------------------------------------- q171
  // 128-bit SimHash near-dup over 4×32-bit bands (Dedup
  // .simhashNearDup128) — the corpus-wide batch shape that survives
  // the 64-bit form's ~4M-signature band-saturation boundary (q85's
  // machinery with a 2³² bucket space per band; BENCH_sfe.md's "128-bit
  // batch near-dup at the fourth decade" records it
  // returning the full planted set at 20M signatures where the 64-bit
  // row gates off). The oracle recomputes all EIGHT 16-bit lanes
  // relationally (q85's vote formulation ×8 — lanes 0–3 are q85's
  // exactly), packs lane pairs into 32-bit band values, and replays
  // the same derived cap + banding + Σ-lane bit_count verification.
  // Distance ≤ 3 on 128 bits is a strictly finer test than q85's on
  // 64: the sf corpora hold pairs at every distance 1..16, so the
  // threshold discriminates on both sides.
  private val q171 = Q(
    "q171_simhash128_neardup",
    (s, d) => {
      graft.ext.Dedup.simhashNearDup128(s, Tables.documents(s, d))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""WITH words AS (
        SELECT doc_id, u.w FROM documents, unnest(string_split(text, ' ')) AS u(w)),
      lane_h AS (
        SELECT doc_id, CAST(l.generate_series AS INTEGER) AS lane,
          CAST(('0x' || substr(md5(w), CAST(l.generate_series * 4 + 1 AS INT), 4)) AS BIGINT) AS h
        FROM words, generate_series(0, 7) l),
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
      -- lane pairs (2b, 2b+1) pack into the 32-bit band value the
      -- engine extracts from its two packed longs
      bands AS (
        SELECT a.doc_id, a.lane // 2 AS band, a.lv + b.lv * 65536 AS bval
        FROM sig a JOIN sig b
          ON b.doc_id = a.doc_id AND b.lane = a.lane + 1
        WHERE a.lane % 2 = 0),
      sized AS (
        SELECT doc_id, band, bval, count(*) OVER (PARTITION BY band, bval) AS bsize
        FROM bands),
      -- the census-derived DEFAULT cap at 32-bit bands (10 x
      -- ceil(n / 2^32), floor 10 — the floor governs at any feasible
      -- corpus), replayed over the same signature population
      cap AS (
        SELECT greatest(10, 10 * ((count(*) + 4294967295) // 4294967296)) AS c
        FROM documents WHERE text IS NOT NULL),
      small AS (
        SELECT doc_id, band, bval FROM sized, cap
        WHERE bsize BETWEEN 2 AND cap.c),
      pairs AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM small a JOIN small b
          ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id),
      ham AS (
        SELECT p.a_id, p.b_id,
          CAST(sum(bit_count(xor(sa.lv, sb.lv))) AS BIGINT) AS hamming
        FROM pairs p
        JOIN sig sa ON sa.doc_id = p.a_id
        JOIN sig sb ON sb.doc_id = p.b_id AND sb.lane = sa.lane
        GROUP BY p.a_id, p.b_id)
      SELECT a_id, b_id, hamming FROM ham
      WHERE hamming <= 3 ORDER BY a_id, b_id"""))

  // --------------------------------------------------------------- q172
  // Media ADMISSION at crawl intake (Dedup.hammingIntakeAdmit — the
  // verdict form of q169's pair intake, and the media arm of
  // Corpus.crawlIntakeMixed): exact dedup WITHIN the increment (first
  // doc_id per identical signature wins), then survivors with no
  // indexed signature within Hamming ≤ 3 admit. Exercised on the
  // q166/q169 fixture signatures against the same persisted index
  // (DuckDB cannot decode images — the oracle checks the stage SQL can
  // replay: within-increment window dedup, persisted-census cap, band
  // join, bit_count verify, anti-join). The pixel decode+hash above
  // this stage is spec-pinned (MultimodalSpec; CorpusSpec pins the
  // composed crawlIntakeMixed ≡ manual stages on real PNGs).
  private val q172 = Q(
    "q172_phash_intake_admit",
    (s, d) => {
      val dir = Fixtures.dir("hamidx", d) { p =>
        graft.ext.Dedup.writeHammingIndex(s,
          phashFixture(s, d).filter(col("doc_id") % 7 =!= 0), p)
      }
      graft.ext.Dedup.hammingIntakeAdmit(s,
          phashFixture(s, d).filter(col("doc_id") % 7 === 0), dir)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH sig AS ($phashSigSql),
      seen AS (SELECT * FROM sig WHERE doc_id % 7 <> 0),
      newb0 AS (SELECT * FROM sig WHERE doc_id % 7 = 0),
      -- stage 1: exact dedup within the increment (min doc_id per
      -- identical signature)
      newb AS (
        SELECT doc_id, packed FROM (
          SELECT n.*, min(doc_id) OVER (PARTITION BY packed) AS kmin
          FROM newb0 n)
        WHERE doc_id = kmin),
      ls AS (
        SELECT doc_id, packed, CAST(l.generate_series AS INTEGER) AS band,
          (packed // CAST(pow(2, l.generate_series * 16) AS BIGINT)) % 65536 AS bval
        FROM seen, generate_series(0, 3) l),
      cap AS (
        SELECT greatest(10, 10 * ((count(*) + 65535) // 65536)) AS c
        FROM seen),
      bs AS (
        SELECT band, bval FROM (
          SELECT band, bval, count(*) AS n FROM ls GROUP BY band, bval), cap
        WHERE n <= cap.c),
      ln AS (
        SELECT doc_id, packed, CAST(l.generate_series AS INTEGER) AS band,
          (packed // CAST(pow(2, l.generate_series * 16) AS BIGINT)) % 65536 AS bval
        FROM newb, generate_series(0, 3) l),
      dup AS (
        SELECT DISTINCT n.doc_id
        FROM ln n
        JOIN bs ON bs.band = n.band AND bs.bval = n.bval
        JOIN ls s ON s.band = n.band AND s.bval = n.bval
          AND s.doc_id <> n.doc_id
        WHERE bit_count(xor(n.packed, s.packed)) <= 3)
      SELECT doc_id, packed FROM newb
      WHERE doc_id NOT IN (SELECT doc_id FROM dup)
      ORDER BY doc_id"""))

  // ----------------------------------------------------------- q173/q174
  // The persisted Hamming index LIFECYCLE at 128 bits (Dedup
  // .writeHammingIndex / appendHammingIndex / compactHammingIndex /
  // hammingIntake / hammingIntakeAdmit on `(doc_id, lo, hi)`) — the
  // build-once/intake-many machinery on the non-saturating 4×32-bit
  // band family.
  // The shared fixture BUILD exercises the whole lifecycle in the
  // correctness path: the index is WRITTEN from half the seen side,
  // APPENDED with the other half (the aggregate-on-read census contract
  // under test: partials from two generations must sum to the true
  // bucket sizes), then force-COMPACTED (rename-swap sigs rewrite +
  // census fold — content must be bit-preserved). The oracle replays
  // seen = the union, so any desync between write/append/compact and
  // the read path fails the hash. Fixture signatures: q166's 60-bit
  // md5 group hash as `lo` (XOR doc_id%8) plus an independent 60-bit
  // group hash as `hi` (XOR doc_id%4) — within-group pair distances
  // span 0..5 over the two longs, straddling the ≤3 threshold from
  // both sides, while band 1 (lo high bits) and band 3 (hi high bits)
  // are group-constant so big groups stress the bucket cap exactly as
  // q166 does.
  private def phash128Fixture(s: SparkSession, d: String) =
    Tables.documents(s, d).select(col("doc_id"),
      expr("CAST(conv(substring(md5(concat(source, '#', " +
          "CAST(n_chars DIV 32 AS STRING))), 1, 15), 16, 10) AS BIGINT)")
        .bitwiseXOR(col("doc_id") % 8).as("lo"),
      expr("CAST(conv(substring(md5(concat('hi#', source, '#', " +
          "CAST(n_chars DIV 32 AS STRING))), 1, 15), 16, 10) AS BIGINT)")
        .bitwiseXOR(col("doc_id") % 4).as("hi"))

  private val phash128SigSql =
    """SELECT doc_id,
         xor(CAST(('0x' || substr(md5(source || '#'
               || CAST(n_chars // 32 AS VARCHAR)), 1, 15)) AS BIGINT),
             doc_id % 8) AS lo,
         xor(CAST(('0x' || substr(md5('hi#' || source || '#'
               || CAST(n_chars // 32 AS VARCHAR)), 1, 15)) AS BIGINT),
             doc_id % 4) AS hi
       FROM documents"""

  /** 4×32-bit band rows in DuckDB (Dedup.LoHi128's band extraction:
    * bands 0-1 from lo, 2-3 from hi; the fixture's longs are 60-bit
    * non-negative, so // and % are exact unsigned arithmetic). */
  private def bands128Sql(src: String) =
    s"""SELECT doc_id, lo, hi, CAST(l.generate_series AS INTEGER) AS band,
         CASE CAST(l.generate_series AS INTEGER)
           WHEN 0 THEN lo % 4294967296 WHEN 1 THEN lo // 4294967296
           WHEN 2 THEN hi % 4294967296 ELSE hi // 4294967296 END AS bval
       FROM $src, generate_series(0, 3) l"""

  private def hamidx128Dir(s: SparkSession, d: String): String =
    Fixtures.dir("hamidx128", d) { p =>
      val seen = phash128Fixture(s, d).filter(col("doc_id") % 7 =!= 0)
      graft.ext.Dedup.writeHammingIndex(s,
        seen.filter(col("doc_id") % 2 === 0), p)
      graft.ext.Dedup.appendHammingIndex(s,
        seen.filter(col("doc_id") % 2 =!= 0), p)
      graft.ext.Dedup.compactHammingIndex(s, p, maxFiles = 4)
    }

  private val q173 = Q(
    "q173_phash128_intake",
    (s, d) => {
      graft.ext.Dedup.hammingIntake(s,
          phash128Fixture(s, d).filter(col("doc_id") % 7 === 0),
          hamidx128Dir(s, d))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some(s"""WITH sig AS ($phash128SigSql),
      seen AS (SELECT * FROM sig WHERE doc_id % 7 <> 0),
      newb AS (SELECT * FROM sig WHERE doc_id % 7 = 0),
      ls AS (${bands128Sql("seen")}),
      -- the census-derived cap at 32-bit bands (10 x ceil(n / 2^32),
      -- floor 10 — the floor governs at any feasible corpus)
      cap AS (
        SELECT greatest(10, 10 * ((count(*) + 4294967295) // 4294967296)) AS c
        FROM seen),
      bs AS (
        SELECT band, bval FROM (
          SELECT band, bval, count(*) AS n FROM ls GROUP BY band, bval), cap
        WHERE n <= cap.c),
      ln AS (${bands128Sql("newb")}),
      pairs AS (
        SELECT DISTINCT n.doc_id AS a_id, s.doc_id AS b_id,
          n.lo AS la, s.lo AS lb, n.hi AS ha, s.hi AS hb
        FROM ln n
        JOIN bs ON bs.band = n.band AND bs.bval = n.bval
        JOIN ls s ON s.band = n.band AND s.bval = n.bval
          AND s.doc_id <> n.doc_id),
      ham AS (
        SELECT a_id, b_id,
          CAST(bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) AS BIGINT)
            AS hamming
        FROM pairs)
      SELECT a_id, b_id, hamming FROM ham
      WHERE hamming <= 3 ORDER BY a_id, b_id"""))

  private val q174 = Q(
    "q174_phash128_intake_admit",
    (s, d) => {
      graft.ext.Dedup.hammingIntakeAdmit(s,
          phash128Fixture(s, d).filter(col("doc_id") % 7 === 0),
          hamidx128Dir(s, d))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH sig AS ($phash128SigSql),
      seen AS (SELECT * FROM sig WHERE doc_id % 7 <> 0),
      newb0 AS (SELECT * FROM sig WHERE doc_id % 7 = 0),
      -- stage 1: exact dedup within the increment (min doc_id per
      -- identical signature PAIR)
      newb AS (
        SELECT doc_id, lo, hi FROM (
          SELECT n.*, min(doc_id) OVER (PARTITION BY lo, hi) AS kmin
          FROM newb0 n)
        WHERE doc_id = kmin),
      ls AS (${bands128Sql("seen")}),
      cap AS (
        SELECT greatest(10, 10 * ((count(*) + 4294967295) // 4294967296)) AS c
        FROM seen),
      bs AS (
        SELECT band, bval FROM (
          SELECT band, bval, count(*) AS n FROM ls GROUP BY band, bval), cap
        WHERE n <= cap.c),
      ln AS (${bands128Sql("newb")}),
      dup AS (
        SELECT DISTINCT n.doc_id
        FROM ln n
        JOIN bs ON bs.band = n.band AND bs.bval = n.bval
        JOIN ls s ON s.band = n.band AND s.bval = n.bval
          AND s.doc_id <> n.doc_id
        WHERE bit_count(xor(n.lo, s.lo)) + bit_count(xor(n.hi, s.hi)) <= 3)
      SELECT doc_id, lo, hi FROM newb
      WHERE doc_id NOT IN (SELECT doc_id FROM dup)
      ORDER BY doc_id"""))

  val qs: Seq[Q] = Seq(q156, q157, q158, q159, q160, q161, q162, q163, q164,
    q165, q166, q167, q168, q169, q170, q171, q172, q173, q174)
}
