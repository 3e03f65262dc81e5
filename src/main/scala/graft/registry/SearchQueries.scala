package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Search, Similarity}
import graft.sources.Fixtures
import graft.sources.Tables.{documents, embeddings}

import Shared._

/** BM25 retrieval and embedding similarity search. */
private[graft] object SearchQueries {
  /** The BM25 oracle, shared verbatim by `search_bm25` (scan form) and
    * `search_bm25_indexed` (persisted-postings serve form): both engines'
    * factors are single double divisions of exact integers and the per-doc
    * fold is order-fixed, so ONE replay gates both plans bit-for-bit. */
  private val bm25OracleSql: String =
    """WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
      |st AS (SELECT CAST(count(*) AS HUGEINT) AS n_docs, CAST(sum(len(tk)) AS HUGEINT) AS total FROM toks),
      |d AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS token FROM toks),
      |m AS (SELECT doc_id, token, CAST(count(*) AS HUGEINT) AS tf, CAST(max(dl) AS HUGEINT) AS dl
      |  FROM d WHERE token IN ('dup', 'spark', 'join') GROUP BY 1, 2),
      |dft AS (SELECT token, CAST(count(*) AS HUGEINT) AS dft FROM m GROUP BY 1),
      |sc AS (SELECT m.doc_id, m.token,
      |    (CAST(2 * (st.n_docs - dft.dft) + 1 AS DOUBLE) / CAST(2 * dft.dft + 1 AS DOUBLE)) *
      |    (CAST(44 * st.total * m.tf AS DOUBLE) /
      |     CAST(20 * st.total * m.tf + 6 * st.total + 18 * m.dl * st.n_docs AS DOUBLE)) AS s_t
      |  FROM m JOIN dft ON m.token = dft.token, st)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |  list_sum(list(s_t ORDER BY token)) AS score
      |FROM sc GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 25""".stripMargin.replace("\n", " ")

  /** The deterministic query batch behind `search_bm25_batch[_indexed]`:
    * every 5th doc's first three tokens under the corpus tokenization
    * rules — 100 queries at the gate sf, each guaranteed at least one hit
    * (its own source doc). */
  private def bm25BatchQueries(s: SparkSession, d: String): DataFrame =
    // parallelism ensured BELOW the tokenize projection (r20): the batch
    // doors apply Parallelism.ensure to this frame, but the repartition
    // then lands ABOVE the projection — the full-text tokenize ran as one
    // map task on the compact single-file corpus (StageProf: 2.5 CPU-s
    // single-task at sf0.1, on the critical path of all seven batch
    // doors). Rebalancing the raw scan first moves the same exchange below
    // the projection, so the tokenize rides every core. Same rows, same
    // values — only the physical distribution changes.
    graft.operators.Parallelism.ensure(graft.sources.Tables.documents(s, d))
      .filter(col("doc_id") % 5 === 1)
      .select(col("doc_id").as("query_id"),
        array_join(
          slice(graft.functions.TextFunctions.tokens(col("text")), 1, 3), " ")
          .as("query"))

  /** ONE oracle for both batch doors (scan + index must agree
    * bit-for-bit, the single-pair rule): replays the query derivation,
    * the per-(doc, term) integer-ratio factors, the order-fixed per-
    * (query, doc) fold, and the per-query (score desc, doc asc) rank. */
  private val bm25BatchOracleSql: String =
    """WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
      |q AS (SELECT DISTINCT doc_id AS query_id, unnest(list_slice(tk, 1, 3)) AS token
      |  FROM toks WHERE doc_id % 5 = 1),
      |st AS (SELECT CAST(count(*) AS HUGEINT) AS n_docs, CAST(sum(len(tk)) AS HUGEINT) AS total FROM toks),
      |d AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS token FROM toks),
      |m AS (SELECT doc_id, token, CAST(count(*) AS HUGEINT) AS tf, CAST(max(dl) AS HUGEINT) AS dl
      |  FROM d WHERE token IN (SELECT token FROM q) GROUP BY 1, 2),
      |dft AS (SELECT token, CAST(count(*) AS HUGEINT) AS dft FROM m GROUP BY 1),
      |sc AS (SELECT m.doc_id, m.token,
      |    (CAST(2 * (st.n_docs - dft.dft) + 1 AS DOUBLE) / CAST(2 * dft.dft + 1 AS DOUBLE)) *
      |    (CAST(44 * st.total * m.tf AS DOUBLE) /
      |     CAST(20 * st.total * m.tf + 6 * st.total + 18 * m.dl * st.n_docs AS DOUBLE)) AS s_t
      |  FROM m JOIN dft ON m.token = dft.token, st),
      |pq AS (SELECT q.query_id, sc.doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |    list_sum(list(sc.s_t ORDER BY sc.token)) AS score
      |  FROM sc JOIN q ON sc.token = q.token GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |  ORDER BY score DESC, doc_id) AS rank FROM pq)
      |SELECT query_id, doc_id, n_terms, score, rank FROM r
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin.replace("\n", " ")

  /** Exact top-5 neighbors of the first ten vectors: `ann_topk_dot`, and
    * the truth every approximate search's recall is measured against. */
  private def annExact(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    Similarity.topKDot(e, e.filter(col("vec_id") < 10), k = 5)
  }
  private def annLsh(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    // 16 tables × 4 planes: tuned for unclustered (random) vectors where
    // true neighbors sit near 66° — see ScaleOpsSpec recall test
    Similarity.annCosineLsh(e, e.filter(col("vec_id") < 10), k = 5, dim = 64,
      tables = 16, planesPerTable = 4)
  }
  private def annIvf(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    Similarity.annCosineIvf(e, e.filter(col("vec_id") < 10), k = 5, dim = 64,
      nlist = 16, nprobe = 8, nassign = 2)
  }
  private def annIvfpq(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    Similarity.annQueryIndex(Fixtures.annIndex(s, d),
      e.filter(col("vec_id") < 10), k = 5, nprobe = 8, rerank = 256)
  }

  /** recall@5 of an approximate search against the exact top-k at this sf,
    * held to the 0.9 floor the specs assert: a fast ANN query that stopped
    * finding neighbors must read as failed, not as a win. */
  private def recallGate(name: String, approx: Query.Build): Option[Gate] =
    Some(Gate("recall", name, needs = Seq("ann_topk_dot"), Seq(Gate.Field("", 3)),
      Gate.AtLeast(0.9), (s, d) => {
        def topk(df: DataFrame): Map[Long, Set[Long]] =
          df.select("qid", "nid").collect()
            .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
        val exact = topk(annExact(s, d))
        if (exact.isEmpty) throw new IllegalStateException("no exact neighbors")
        val got = topk(approx(s, d))
        val perQuery = exact.toSeq.map { case (q, ex) =>
          got.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size }
        Seq(perQuery.sum / perQuery.size)
      }))

  val all: Seq[Query] = Seq(
    // BM25 top-25 lexical retrieval for a 3-term query with real idf
    // contrast ('dup' df=25 vs ~390 for the others at sf0.01): rational
    // k1=6/5, b=3/4 so both factors are single double divisions of exact
    // decimal(38) integers, per-doc fold LEFT-TO-RIGHT in token order
    Query("search_bm25", (s, d) =>
      Search.bm25TopK(documents(s, d), "dup spark join", k = 25),
      // BM25 replayed with the ENGINE'S exact arithmetic: both factors are
      // single double divisions of exact HUGEINT integers (the decimal(38)
      // twin), the per-term score one multiply, and the per-doc fold
      // list_sum(list(s ORDER BY token)) — left-to-right like the engine's
      // array aggregate, so the doubles are bit-equal under the hash gate.
      // The indexed serve path shares the SQL verbatim: the index is a
      // materialization of the same (tf, dl, N, T) values, so one oracle
      // covers both forms — any drift between scan and serve fails here.
      oracle = bm25OracleSql),
    // the SERVE path: same query through the persisted inverted index
    // (Fixtures.searchIndex, built once per corpus fingerprint) — the scan
    // prunes to the terms' bucket directories, zero tokenization; results
    // are bit-identical to the scan form, so it shares its oracle shape
    Query("search_bm25_indexed", (s, d) =>
      Search.bm25TopKIndexed(Fixtures.searchIndex(s, d), "dup spark join", k = 25),
      oracle = bm25OracleSql),
    // BATCH retrieval (VERDICT r13 next #2): every 5th doc's first three
    // tokens as a query — 100 queries at the gate sf — resolved in ONE
    // job: the corpus is tokenized once, each matched (doc, term) scores
    // once (scores are query-independent), queries fan out through a
    // broadcast term table, and the per-query k-cut is a bounded TopK
    // AGGREGATE (O(queries·k) across its exchange), never a row-number
    // window. One oracle replays query derivation + scoring + ranking.
    Query("search_bm25_batch", (s, d) =>
      Search.bm25TopKAll(documents(s, d), bm25BatchQueries(s, d), k = 5),
      oracle = bm25BatchOracleSql),
    // the batch through the persisted index: the whole batch's postings in
    // ONE pruned scan (the batch vocabulary's buckets constant-fold into
    // the partition filter), zero tokenization, bit-identical rows — the
    // same oracle gates both forms
    Query("search_bm25_batch_indexed", (s, d) =>
      Search.bm25TopKAllIndexed(Fixtures.searchIndex(s, d),
        bm25BatchQueries(s, d), k = 5),
      oracle = bm25BatchOracleSql),
    // the QUERY-SHARD door (VERDICT r18 next #1 — SCALE.md's stated
    // escape hatch for the batch's linear fanout term, now registered
    // code): the query set hash-splits into 4 slices that replay ONE
    // shared scored cache, so per-pair state (bounds aggregate maps,
    // survivor broadcast, fold buffers) is ~1/4 per slice while every
    // query's arithmetic is untouched — output bit-identical to
    // search_bm25_batch, gated by the SAME oracle SQL
    Query("search_bm25_batch_sharded", (s, d) =>
      Search.bm25TopKAllSharded(documents(s, d), bm25BatchQueries(s, d),
        k = 5, shards = 4),
      oracle = bm25BatchOracleSql),
    // the CONCURRENT shard form (VERDICT r19 next #1 — the deployment
    // shape SCALE.md claims, now registered code): the 4 slices run as 4
    // concurrent Spark jobs sharing the one scored cache, each slice
    // materialized inside its own driver thread/scheduler pool — walls
    // overlap instead of summing, per-task bounds state stays at sharded
    // ~1/K size. Same oracle SQL: concurrency changes when slice jobs
    // run, never what any slice computes
    Query("search_bm25_batch_conc", (s, d) =>
      Search.bm25TopKAllSharded(documents(s, d), bm25BatchQueries(s, d),
        k = 5, shards = 4, concurrent = true),
      oracle = bm25BatchOracleSql),
    // the PLAN-ONLY batch door (VERDICT r18 next #3): every driver-side
    // action in the eager door replaced by its declarative twin (semi-join
    // vocabulary filter, AQE-decided survivor joins) — construction
    // launches zero jobs (SearchSpec pins it with a job listener) and the
    // output is bit-identical, gated by the same oracle SQL
    Query("search_bm25_batch_lazy", (s, d) =>
      Search.bm25TopKAllLazy(documents(s, d), bm25BatchQueries(s, d), k = 5),
      oracle = bm25BatchOracleSql),
    // the INDEXED-side sharded and lazy doors (VERDICT r19 next #2 — r19
    // registered only the scan forms; the repo's convention is oracle-first
    // for every door). The sharded form replays the pruned-postings scored
    // cache per query slice; the lazy form is plan-only at construction
    // and its bucket pruning rides DYNAMIC partition pruning (the plan
    // shape SearchSpec asserts) instead of the eager door's constant-folded
    // predicate. Both bit-identical to search_bm25_batch — same oracle SQL
    Query("search_bm25_batch_indexed_sharded", (s, d) =>
      Search.bm25TopKAllIndexedSharded(Fixtures.searchIndex(s, d),
        bm25BatchQueries(s, d), k = 5, shards = 4),
      oracle = bm25BatchOracleSql),
    Query("search_bm25_batch_indexed_lazy", (s, d) =>
      Search.bm25TopKAllIndexedLazy(Fixtures.searchIndex(s, d),
        bm25BatchQueries(s, d), k = 5),
      oracle = bm25BatchOracleSql),

    // ---- scale ops: similarity search over `embeddings` ---------------------
    Query("ann_topk_dot", annExact,
      oracle =
        """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS q FROM embeddings),
          |qs AS (SELECT vec_id AS qid, q AS qv FROM v WHERE vec_id < 10),
          |scored AS (SELECT qid, v.vec_id AS nid, CAST(list_sum(list_transform(range(1, len(qv)+1), i -> qv[i]*v.q[i])) AS BIGINT) AS dot_q
          |  FROM qs, v WHERE v.vec_id <> qid)
          |SELECT qid, nid, dot_q, rank FROM (
          |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dot_q DESC, nid) AS rank FROM scored)
          |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin.replace("\n", " ")),
    // embedding health: per-dimension integer-quantized distribution — one
    // partial/final hash agg over the posexplode (O(partitions × dim) rows
    // cross the exchange)
    Query("embedding_dim_stats", (s, d) =>
      Similarity.embeddingDimStats(embeddings(s, d)).orderBy("dim"),
      // same widen→scale→round quantization path as the engine (scale 1000);
      // generate_subscripts/unnest zip per row, dims re-based to 0
      oracle =
        """WITH u0 AS (SELECT generate_subscripts(embedding, 1) - 1 AS dim, unnest(embedding) AS v FROM embeddings),
          |u AS (SELECT CAST(dim AS BIGINT) AS dim, CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT) AS q FROM u0)
          |SELECT dim, count(*) AS n, CAST(sum(q) AS BIGINT) AS sum_q,
          |  min(q) AS min_q, max(q) AS max_q, CAST(sum(q*q) AS BIGINT) AS sum_q2
          |FROM u GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
    // SemDeDup-shape per-cluster quality prune: cosine-to-own-centroid
    // < 0.1 decided by one exact decimal(38) inequality (169/500 flagged
    // at sf0.01) — the corpus never shuffles, centroids ride a broadcast
    Query("embedding_outliers", (s, d) =>
      Similarity.embeddingOutliers(embeddings(s, d)),
      // same quantization, then the sign-aware exact threshold test
      // (dot ≤ 0 ∨ dot²·den² < num²·|a|²·|c|², τ = 1/10) over HUGEINT —
      // the engine's decimal(38) twin
      oracle =
        """WITH u0 AS (SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS dim, unnest(embedding) AS v FROM embeddings),
          |u AS (SELECT vec_id, label, dim, CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT) AS q FROM u0),
          |c AS (SELECT label, dim, CAST(sum(q) AS BIGINT) AS s FROM u GROUP BY 1, 2),
          |c2 AS (SELECT label, CAST(sum(s * s) AS BIGINT) AS c2 FROM c GROUP BY 1),
          |d AS (SELECT u.vec_id, u.label, CAST(sum(u.q * c.s) AS BIGINT) AS dot_q,
          |    CAST(sum(u.q * u.q) AS BIGINT) AS a2
          |  FROM u JOIN c ON u.label = c.label AND u.dim = c.dim GROUP BY 1, 2)
          |SELECT d.vec_id, d.label, d.dot_q,
          |  (d.dot_q <= 0 OR CAST(d.dot_q AS HUGEINT) * d.dot_q * 100 < 1 * CAST(d.a2 AS HUGEINT) * c2.c2) AS is_outlier
          |FROM d JOIN c2 ON d.label = c2.label ORDER BY 1""".stripMargin.replace("\n", " ")),
    Query("ann_topk_cosine_lsh", annLsh,
      // SRP-LSH ANN replayed from the committed band-key table (r13): the
      // seeded hyperplane keys are the fixture; the (table, key) candidate
      // join, the distinct, the exact cosine and the top-5 are re-derived.
      // Defined at sf0.01, the gate SF (queries are vec_id < 10).
      oracle = annCosineTopkOver(
        s"""lk AS (SELECT vec_id, ltable, lkey FROM read_csv('$goldenDir/lsh_keys_sf0.01.tsv',
          |    delim='\t', skip=2, header=false, columns={'vec_id': 'BIGINT', 'ltable': 'BIGINT', 'lkey': 'BIGINT'})),
          |cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
          |  FROM lk q JOIN lk c ON q.ltable = c.ltable AND q.lkey = c.lkey
          |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)""".stripMargin.replace("\n", " ")),
      gate = recallGate("ann_topk_cosine_lsh", annLsh)),
    // IVF-flat counterpart: centroid cells adapt to the data where LSH
    // hyperplanes are oblivious — the production default for clustered
    // (real-embedding) corpora. nprobe=8/nlist=16 with nassign=2 redundant
    // corpus assignment is sized for THIS corpus (random unit vectors, the
    // adversarial case — single-assignment recall@5 measured 0.76 at sf0.1;
    // the spill assignment lifts it past the 0.9 floor its gate holds);
    // clustered data runs nprobe/nlist an order of magnitude lower.
    Query("ann_topk_cosine_ivf", annIvf,
      // IVF-flat ANN replayed from the committed probe-cell ranking (r13):
      // the trained-centroid argmax ranking is the fixture (top-8 cells per
      // vector); the corpus arm keeps its nassign=2 best cells, the query
      // arm probes nprobe=8, candidates join on cell equality, exact cosine
      // + top-5 re-derived. Defined at sf0.01.
      oracle = annCosineTopkOver(
        s"""cells AS (SELECT vec_id, r, cell FROM read_csv('$goldenDir/ivf_cells_sf0.01.tsv',
          |    delim='\t', skip=2, header=false, columns={'vec_id': 'BIGINT', 'r': 'BIGINT', 'cell': 'BIGINT'})),
          |cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
          |  FROM cells q JOIN cells c ON q.cell = c.cell
          |  WHERE q.vec_id < 10 AND q.r < 8 AND c.r < 2 AND c.vec_id <> q.vec_id)""".stripMargin.replace("\n", " ")),
      gate = recallGate("ann_topk_cosine_ivf", annIvf)),
    // IVF-PQ (IVFADC): the memory-scale tier — scoring reads cell + m=16
    // byte codes + true norm (~52 B/row vs the flat index's 256 B vector),
    // candidates cost m table lookups instead of a 64-dot, and the exact
    // re-rank of the ADC top-256 absorbs the quantization error (m=16/
    // rerank=256 is the hard-data config ScaleBench pins: uniform vectors
    // shrink the rank-5-to-shortlist cos gap as the corpus grows while PQ
    // distortion stays put — m=8/rerank=64 measured 0.92 at sf0.1 but
    // 0.64 at the 2× sf1 corpus and 0.62 at 100k). Serves from the
    // PERSISTED fixture index (train-once/serve-many — the same r8 lesson
    // as filter_lm_score: inline quantizer training made the bench
    // measure training, not serving). nprobe matches the flat IVF row
    // above so the artifact's recall column isolates what PQ compression
    // costs at the same probe budget.
    Query("ann_topk_cosine_ivfpq", annIvfpq,
      // IVF-PQ (IVFADC) replayed from the coded corpus + per-query LUT
      // sentinels (r13): candidates via probe-cell equality (the SAME
      // ivf_cells ranking — the fixture index trains identical coarse
      // centroids), ADC = the m-ordered LUT sum over each candidate's 16
      // codes divided by the norm product, top-256 shortlist by (adc DESC,
      // nid ASC), exact-cosine re-rank to top-5. Defined at sf0.01.
      oracle = annCosineTopkOver(
        s"""cells AS (SELECT vec_id, r, cell FROM read_csv('$goldenDir/ivf_cells_sf0.01.tsv',
          |    delim='\t', skip=2, header=false, columns={'vec_id': 'BIGINT', 'r': 'BIGINT', 'cell': 'BIGINT'})),
          |cd AS (SELECT nid, cell, cnorm, codes FROM read_csv('$goldenDir/pq_coded_sf0.01.tsv',
          |    delim='\t', skip=2, header=false, columns={'nid': 'BIGINT', 'cell': 'BIGINT', 'cnorm': 'DOUBLE', 'codes': 'VARCHAR'})),
          |lut AS (SELECT qid, m, code, v FROM read_csv('$goldenDir/pq_lut_sf0.01.tsv',
          |    delim='\t', skip=2, header=false, columns={'qid': 'BIGINT', 'm': 'BIGINT', 'code': 'BIGINT', 'v': 'DOUBLE'})),
          |c0 AS (SELECT DISTINCT q.vec_id AS qid, cd.nid, cd.cnorm, cd.codes
          |  FROM cells q JOIN cd ON cd.cell = q.cell
          |  WHERE q.vec_id < 10 AND q.r < 8 AND cd.nid <> q.vec_id),
          |terms AS (SELECT qid, nid, cnorm, mm.m,
          |    CAST(string_split(codes, ',')[mm.m + 1] AS BIGINT) AS code
          |  FROM c0, (SELECT unnest(range(0, 16)) AS m) mm),
          |tv AS (SELECT t.qid, t.nid, t.cnorm, t.m, l.v
          |  FROM terms t JOIN lut l ON l.qid = t.qid AND l.m = t.m AND l.code = t.code),
          |nq AS (SELECT vec_id, sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
          |  FROM embeddings WHERE vec_id < 10),
          |adcs AS (SELECT tv.qid, tv.nid, list_sum(list(tv.v ORDER BY tv.m)) / (nq.nrm * tv.cnorm) AS adc
          |  FROM tv JOIN nq ON nq.vec_id = tv.qid GROUP BY tv.qid, tv.nid, tv.cnorm, nq.nrm),
          |cand AS (SELECT qid, nid FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc DESC, nid) AS rr
          |  FROM adcs WHERE adc IS NOT NULL AND NOT isnan(adc)) WHERE rr <= 256)""".stripMargin.replace("\n", " ")),
      gate = recallGate("ann_topk_cosine_ivfpq", annIvfpq))
  )
}
