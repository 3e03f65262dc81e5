package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Corpus, Dedup, TextAnalysis}
import graft.sources.Fixtures
import graft.sources.Tables.documents

import Shared._

/** Training-set assembly and the composed crawl and corpus pipelines. */
private[graft] object PipelineQueries {
  /** Planted crawl delta + its base split, shared by the crawl-pipeline
    * queries: delta = `doc_id % 20 == 0` with deterministic exact-copy and
    * PII plants (mirrored in the oracles), base = `doc_id % 5 != 0` — which
    * MUST equal [[graft.sources.Fixtures]].buildIndex's corpus (see the
    * INVARIANT note at the `pipeline_crawl_increment` registration). */
  private def crawlPlantedDelta(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = documents(s, d)
    val base = docs.filter(col("doc_id") % 5 =!= 0) // = the index's corpus
    val dupSrc = docs.select(col("doc_id").as("__src_id"), col("text").as("__src_text"))
    val noPlant = col("doc_id") % 100 =!= 0
    val planted = docs.filter(col("doc_id") % 20 === 0)
      .join(dupSrc, col("doc_id") % 100 === 0 && col("__src_id") === col("doc_id") - 49, "left")
      .select(col("doc_id"),
        concat(
          coalesce(col("__src_text"), col("text")),
          when(noPlant && col("doc_id") % 7 === 0,
            concat(lit(" contact u"), col("doc_id"), lit("@example.com")))
            .otherwise(lit("")),
          when(noPlant && col("doc_id") % 11 === 0, lit(" from 10.1.2.3")).otherwise(lit("")),
          when(noPlant && col("doc_id") % 13 === 0, lit(" call 555-123-4567")).otherwise(lit("")))
          .as("text"))
    (planted, base)
  }

  /**
   * The crawl round-trip's CTE chain, through `acc` = the accepted manifest
   * (planted delta → exact keep → span cut vs base ∪ survivors → PII scrub
   * with each count on the intermediate its redaction consumes → repetition
   * gate). Shared by `pipeline_crawl_increment` (selects `acc` directly)
   * and `pipeline_crawl_lm_gate` (appends the LM scoring CTEs over `acc`).
   */
  private def crawlOracleCtes: String = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
    val phone = "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"
    s"""pd AS (SELECT d.doc_id,
       |  coalesce(b.text, d.text)
       |  || CASE WHEN d.doc_id % 100 <> 0 AND d.doc_id % 7 = 0 THEN ' contact u' || d.doc_id || '@example.com' ELSE '' END
       |  || CASE WHEN d.doc_id % 100 <> 0 AND d.doc_id % 11 = 0 THEN ' from 10.1.2.3' ELSE '' END
       |  || CASE WHEN d.doc_id % 100 <> 0 AND d.doc_id % 13 = 0 THEN ' call 555-123-4567' ELSE '' END AS text
       |  FROM documents d LEFT JOIN documents b ON d.doc_id % 100 = 0 AND b.doc_id = d.doc_id - 49
       |  WHERE d.doc_id % 20 = 0),
       |corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0 UNION ALL SELECT doc_id, text FROM pd),
       |h AS (SELECT doc_id, md5(text) AS hh FROM corpus),
       |keep AS (SELECT d.doc_id FROM h d JOIN h a USING (hh) WHERE d.doc_id % 20 = 0 GROUP BY d.doc_id HAVING min(a.doc_id) = d.doc_id),
       |sd AS (SELECT c.doc_id, c.text FROM corpus c WHERE c.doc_id % 5 <> 0 OR c.doc_id IN (SELECT doc_id FROM keep)),
       |${exactSpansOracleCtes(maxGramFreq = None, srcTable = "sd")},
       |rmp AS (SELECT id_b AS doc_id, unnest(generate_series(b_start, b_start + len - 1)) AS rm FROM spans WHERE id_b % 20 = 0),
       |rms AS (SELECT doc_id, array_agg(DISTINCT rm) AS rm FROM rmp GROUP BY 1),
       |cut AS (SELECT p.doc_id,
       |  CASE WHEN rms.rm IS NULL THEN p.text
       |    ELSE coalesce(array_to_string(list_filter(regexp_split_to_array(lower(trim(p.text)), '\\s+'),
       |      (x, i) -> NOT list_contains(rms.rm, i - 1)), ' '), '') END AS ct,
       |  CAST(coalesce(len(rms.rm), 0) AS BIGINT) AS n_removed
       |  FROM pd p JOIN keep USING (doc_id) LEFT JOIN rms ON p.doc_id = rms.doc_id),
       |scrub AS (SELECT doc_id, n_removed,
       |  regexp_replace(regexp_replace(regexp_replace(ct, '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$phone', '<PHONE>', 'g') AS clean_text,
       |  CAST(len(regexp_extract_all(ct, '$email')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(regexp_replace(ct, '$email', '<EMAIL>', 'g'), '$ip')) AS BIGINT) AS n_ips,
       |  CAST(len(regexp_extract_all(regexp_replace(regexp_replace(ct, '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$phone')) AS BIGINT) AS n_phones
       |  FROM cut),
       |tk AS (SELECT *, regexp_split_to_array(lower(trim(clean_text)), '\\s+') AS toks FROM scrub),
       |met AS (SELECT doc_id, clean_text, n_removed, n_emails, n_ips, n_phones,
       |  CAST(len(toks) AS BIGINT) AS n_tokens, len(list_distinct(toks)) AS n_distinct_tokens,
       |  list_max(list_transform(list_distinct(toks), t -> len(list_filter(toks, x -> x = t)))) AS top_token_count FROM tk),
       |acc AS (SELECT doc_id, clean_text, n_removed, n_emails, n_ips, n_phones, n_tokens
       |  FROM met WHERE (n_tokens - n_distinct_tokens) * 2 <= n_tokens * 1 AND top_token_count * 10 <= n_tokens * 1)"""
      .stripMargin.replace("\n", " ")
  }

  /** The whole-doc packing fold at cap 512 over whitespace token counts, as
    * the recursive CTE `fold(rn, doc_id, n_tokens, bin_id, bin_offset,
    * fill)`; the caller prepends "WITH RECURSIVE ". Packing IS a sequential
    * fold (the rollover makes it non-associative), so the oracle replays it
    * literally: one row per step, joined forward on row_number. Shared by
    * the layout, its utilization report and the shard routing. */
  private val wholeFoldCtes =
    """t AS (SELECT doc_id, len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens FROM documents),
      |o AS (SELECT doc_id, n_tokens, row_number() OVER (ORDER BY doc_id) AS rn FROM t),
      |fold(rn, doc_id, n_tokens, bin_id, bin_offset, fill) AS (
      |  SELECT rn, doc_id, CAST(n_tokens AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(n_tokens AS BIGINT) FROM o WHERE rn = 1
      |  UNION ALL
      |  SELECT o.rn, o.doc_id, CAST(o.n_tokens AS BIGINT),
      |    CASE WHEN f.fill + o.n_tokens > 512 THEN f.bin_id + 1 ELSE f.bin_id END,
      |    CASE WHEN f.fill + o.n_tokens > 512 THEN CAST(0 AS BIGINT) ELSE f.fill END,
      |    CASE WHEN f.fill + o.n_tokens > 512 THEN CAST(o.n_tokens AS BIGINT) ELSE f.fill + o.n_tokens END
      |  FROM fold f JOIN o ON o.rn = f.rn + 1)""".stripMargin.replace("\n", " ")

  val all: Seq[Query] = Seq(
    // composed cleaning pipeline over `documents`: exact-dedup winners →
    // quality gate (length + token floor) → per-language accounting. This is
    // the operators COMPOSING — the shape a real corpus-cleaning job takes —
    // and it stays one declarative plan (dedup's hash-agg feeds a join feeds
    // the final agg; nothing materializes driver-side).
    Query("pipeline_clean_corpus", { (s, d) =>
      val docs = documents(s, d)
      val kept = Dedup.exact(docs).select(col("keep_id").as("doc_id"))
      // token count is a map-side projection of the same rows — computed
      // inline (one documents scan), not joined back from tokenCounts
      docs.join(kept, "doc_id")
        .withColumn("n_ws_tokens",
          size(graft.functions.TextFunctions.tokens(col("text"))).cast("long"))
        .filter(col("n_chars") >= 20 && col("n_ws_tokens") >= 10)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_ws_tokens").as("sum_tokens"))
        .orderBy("lang")
    },
      oracle =
        """WITH kept AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
          |t AS (SELECT doc_id, len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tok FROM documents)
          |SELECT d.lang, count(*) AS n_docs, CAST(sum(t.n_tok) AS BIGINT) AS sum_tokens
          |FROM documents d JOIN kept USING (doc_id) JOIN t USING (doc_id)
          |WHERE d.n_chars >= 20 AND t.n_tok >= 10
          |GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),

    // ---- scale ops: training-set assembly -----------------------------------
    // GPT-3-style benchmark decontamination: distinct-3-gram overlap between
    // the training split (doc_id % 20 != 0) and the benchmark split (== 0);
    // benchmark shingle set broadcasts, training side never shuffles text.
    Query("decontaminate_ngram", { (s, d) =>
      val docs = documents(s, d)
      graft.operators.TrainingSet.decontaminate(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0)).orderBy("doc_id")
    },
      // decontamination: DuckDB re-derives the distinct 3-gram overlap on raw
      // STRING shingles (the engine joins 64-bit hashed shingles — counts
      // agree because combination collisions are ~n²/2⁶⁵)
      oracle =
        """WITH t AS (SELECT doc_id AS id, list_distinct(list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' '))) AS sh
          |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents) WHERE len(toks) >= 3),
          |ev AS (SELECT DISTINCT unnest(sh) AS s FROM t WHERE id % 20 = 0),
          |tr AS (SELECT id, unnest(sh) AS s FROM t WHERE id % 20 <> 0)
          |SELECT tr.id AS doc_id, count(*) AS n_shared
          |FROM tr JOIN ev USING (s) GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
    // concat-and-chunk context-window packing (cap = 512 tokens): distributed
    // two-pass prefix sum — no global window, no single-reducer sort
    Query("pack_sequences", (s, d) =>
      graft.operators.TrainingSet.packSequences(documents(s, d), capTokens = 512)
        .orderBy("doc_id"),
      // packing: the global-window cumsum IS the spec (exact integer
      // arithmetic); the engine computes it as a two-pass distributed scan.
      // sum() OVER → HUGEINT, hence the BIGINT cast (hash-compare is typed)
      oracle =
        """WITH t AS (SELECT doc_id, len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens FROM documents),
          |c AS (SELECT doc_id, n_tokens, CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset FROM t)
          |SELECT doc_id, n_tokens, start_offset, start_offset // 512 AS bin_start,
          |  (start_offset + n_tokens - 1) // 512 AS bin_end,
          |  (start_offset + n_tokens - 1) // 512 - start_offset // 512 + 1 AS n_bins
          |FROM c ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    // WHOLE-DOCUMENT packing (cap = 512): no doc straddles a context window —
    // the layout when cross-document attention contamination matters. A
    // sequential fold by spec, computed as the two-pass fill-transition
    // summary + driver fold (O(partitions × min(docs, cap)) longs collected)
    Query("pack_sequences_whole", (s, d) =>
      graft.operators.TrainingSet.packSequencesWhole(documents(s, d), capTokens = 512)
        .orderBy("doc_id"),
      oracle =
        s"WITH RECURSIVE $wholeFoldCtes SELECT doc_id, n_tokens, bin_id, bin_offset FROM fold ORDER BY doc_id"),
    // the same prefix-sum packing driven by REAL BPE counts (the persisted
    // 40-merge model): context windows sized in the tokens the model will
    // actually see, not whitespace words
    Query("pack_sequences_bpe", { (s, d) =>
      // through the fingerprint-pinning front door: the model's md5 is
      // stamped into the output schema (TokenizerSpec pins that a model
      // swap against a manifest-recorded fingerprint fails loudly)
      graft.operators.TrainingSet.packSequencesBpe(documents(s, d),
        Fixtures.bpeModel(s, d), capTokens = 512).orderBy("doc_id")
    },
      // the BPE-priced chunk twin, now under a FULL oracle (r13): the same
      // window cumsum with counts from the committed sentinel table — the
      // greedy merge loop stays the fixture, the packing arithmetic is
      // re-derived. Defined at sf0.01, the gate SF.
      oracle =
        s"""WITH bpec AS (SELECT doc_id, n_bpe FROM read_csv('$goldenDir/bpe_counts_sf0.01.tsv', delim='\t', skip=2, header=false, columns={'doc_id': 'BIGINT', 'n_bpe': 'BIGINT'})),
          |c AS (SELECT doc_id, n_bpe AS n_tokens, CAST(COALESCE(sum(n_bpe) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset FROM bpec)
          |SELECT doc_id, n_tokens, start_offset, start_offset // 512 AS bin_start,
          |  (start_offset + n_tokens - 1) // 512 AS bin_end,
          |  (start_offset + n_tokens - 1) // 512 - start_offset // 512 + 1 AS n_bins
          |FROM c ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    // whole-doc layout priced by the SAME persisted model — and unlike the
    // concat-and-chunk BPE twin (golden-pinned), this one sits under a FULL
    // DuckDB oracle: the committed sentinel-pinned count table supplies the
    // per-doc counts relationally, and the recursive CTE replays the
    // non-associative fill fold (the pipeline_training_set_v2 pattern
    // applied to a single operator; oracle defined at sf0.01, the gate SF)
    Query("pack_sequences_whole_bpe", { (s, d) =>
      graft.operators.TrainingSet.packSequencesBpe(documents(s, d),
        Fixtures.bpeModel(s, d), capTokens = 512, wholeDoc = true)
        .orderBy("doc_id")
    },
      // the BPE-priced whole-doc twin: identical fold, counts from the
      // committed sentinel-pinned table (the engine computes them live via
      // the codegen'd BpeCount under the persisted 40-merge model)
      oracle =
        s"""WITH RECURSIVE bpec AS (SELECT doc_id, n_bpe FROM read_csv('$goldenDir/bpe_counts_sf0.01.tsv', delim='\t', skip=2, header=false, columns={'doc_id': 'BIGINT', 'n_bpe': 'BIGINT'})),
          |o AS (SELECT doc_id, n_bpe AS n_tokens, row_number() OVER (ORDER BY doc_id) AS rn FROM bpec),
          |fold(rn, doc_id, n_tokens, bin_id, bin_offset, fill) AS (
          |  SELECT rn, doc_id, n_tokens, CAST(0 AS BIGINT), CAST(0 AS BIGINT), n_tokens FROM o WHERE rn = 1
          |  UNION ALL
          |  SELECT o.rn, o.doc_id, o.n_tokens,
          |    CASE WHEN f.fill + o.n_tokens > 512 THEN f.bin_id + 1 ELSE f.bin_id END,
          |    CASE WHEN f.fill + o.n_tokens > 512 THEN CAST(0 AS BIGINT) ELSE f.fill END,
          |    CASE WHEN f.fill + o.n_tokens > 512 THEN o.n_tokens ELSE f.fill + o.n_tokens END
          |  FROM fold f JOIN o ON o.rn = f.rn + 1)
          |SELECT doc_id, n_tokens, bin_id, bin_offset FROM fold ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    // per-document sliding-window chunking (chunk = 32 tokens, stride = 16):
    // the RAG/eval-ingestion layout — overlapping windows, every token
    // covered, generation stops at the first window reaching the doc end.
    // Pure narrow explode: zero exchanges at any corpus size
    Query("chunk_sliding", (s, d) =>
      graft.operators.TrainingSet.chunkSliding(documents(s, d),
        chunkTokens = 32, stride = 16)
        .orderBy("doc_id", "chunk_idx"),
      // per-doc sliding-window chunking: window count by exact integer
      // arithmetic (ceil((n-chunk)/stride)+1 once past the chunk size),
      // 1-based starts every `stride`, DuckDB's clamping list slice =
      // Spark's clamping `slice`
      oracle =
        s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents),
          |s AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t),
          |c AS (SELECT doc_id, toks,
          |  CASE WHEN n <= 32 THEN 1 ELSE (n - 32 + 16 - 1) // 16 + 1 END AS n_starts FROM s),
          |x AS (SELECT doc_id, unnest(list_transform(range(0, n_starts),
          |  i -> struct_pack(ci := i, st := i*16 + 1, ch := list_slice(toks, i*16 + 1, i*16 + 32)))) AS u FROM c)
          |SELECT doc_id, (u).ci AS chunk_idx, (u).st AS start_tok,
          |  CAST(len((u).ch) AS BIGINT) AS n_chunk_tokens,
          |  array_to_string((u).ch, ' ') AS chunk_text
          |FROM x ORDER BY doc_id, chunk_idx""".stripMargin.replace("\n", " ")),
    // the bin-utilization report over the whole-doc layout (r13): n_bins /
    // fills / wasted tokens in one row — the number that prices the
    // no-straddle trade at a given cap. One oracle replays fold → per-bin
    // fills → the single-row reduce.
    Query("pack_whole_stats", (s, d) =>
      graft.operators.TrainingSet.packingStats(
        graft.operators.TrainingSet.packSequencesWhole(documents(s, d), capTokens = 512),
        capTokens = 512),
      oracle =
        s"""WITH RECURSIVE $wholeFoldCtes,
          |bins AS (SELECT bin_id, CAST(sum(n_tokens) AS BIGINT) AS fill, count(*) AS docs FROM fold GROUP BY bin_id)
          |SELECT count(*) AS n_bins, CAST(sum(docs) AS BIGINT) AS n_docs,
          |  CAST(sum(fill) AS BIGINT) AS total_tokens, min(fill) AS min_fill, max(fill) AS max_fill,
          |  CAST(512 * count(*) - sum(fill) AS BIGINT) AS wasted_tokens
          |FROM bins""".stripMargin.replace("\n", " ")),
    // deterministic shard routing over the whole-doc layout (r13): seeded
    // two-round multiplicative mix of bin_id — a pure projection, zero
    // exchange — scatters id-adjacent bins across 16 shards; the oracle
    // replays the fold CTE then the identical overflow-safe BIGINT hash
    Query("shard_assign", (s, d) =>
      graft.operators.TrainingSet.assignShards(
        graft.operators.TrainingSet.packSequencesWhole(documents(s, d), capTokens = 512),
        nShards = 16, seed = 42L)
        .orderBy("doc_id"),
      // shard routing: the fold CTE, then the two-round multiplicative
      // mix replayed verbatim in overflow-safe BIGINT arithmetic (operands
      // reduced mod 2^31 before multiplying — every intermediate < 2^63)
      oracle =
        s"""WITH RECURSIVE $wholeFoldCtes,
          |h AS (SELECT doc_id, n_tokens, bin_id, bin_offset,
          |  ((bin_id % 2147483648) * 2654435761 + 42) % 4294967296 AS h1 FROM fold)
          |SELECT doc_id, n_tokens, bin_id, bin_offset,
          |  (((h1 % 2147483648) * 2246822519 + (h1 // 65536)) % 4294967296) % 16 AS shard_id
          |FROM h ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    // the per-shard manifest a training launcher reads: bins / docs / tokens
    // per shard, one O(shards) rollup after the same zero-shuffle routing
    Query("shard_manifest", (s, d) =>
      graft.operators.TrainingSet.shardManifest(
        graft.operators.TrainingSet.assignShards(
          graft.operators.TrainingSet.packSequencesWhole(documents(s, d), capTokens = 512),
          nShards = 16, seed = 42L))
        .orderBy("shard_id"),
      // per-shard manifest: routing as above, then one O(shards) rollup
      oracle =
        s"""WITH RECURSIVE $wholeFoldCtes,
          |h AS (SELECT doc_id, n_tokens, bin_id,
          |  ((bin_id % 2147483648) * 2654435761 + 42) % 4294967296 AS h1 FROM fold),
          |s AS (SELECT doc_id, n_tokens, bin_id,
          |  (((h1 % 2147483648) * 2246822519 + (h1 // 65536)) % 4294967296) % 16 AS shard_id FROM h)
          |SELECT shard_id, count(DISTINCT bin_id) AS n_bins, count(*) AS n_docs,
          |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
          |FROM s GROUP BY shard_id ORDER BY shard_id""".stripMargin.replace("\n", " ")),
    // per-language data card (r13): doc/token totals + EXACT integer
    // p50/p90/p99 doc lengths via the bounded (lang, n_tokens) domain —
    // the rank test `100·cum ≥ n_docs·p` is pure-integer in both engines
    Query("corpus_report", (s, d) =>
      graft.operators.TextAnalysis.corpusReport(documents(s, d)).orderBy("lang"),
      oracle =
        """WITH t AS (SELECT lang, len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n FROM documents),
          |c AS (SELECT lang, CAST(n AS BIGINT) AS n_tokens, count(*) AS cnt FROM t GROUP BY 1, 2),
          |w AS (SELECT lang, n_tokens, cnt,
          |  CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY n_tokens) AS BIGINT) AS cum,
          |  CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n_docs FROM c)
          |SELECT lang, max(n_docs) AS n_docs,
          |  CAST(sum(n_tokens * cnt) AS BIGINT) AS total_tokens,
          |  min(n_tokens) AS min_tokens,
          |  min(CASE WHEN 100 * cum >= n_docs * 50 THEN n_tokens END) AS p50_tokens,
          |  min(CASE WHEN 100 * cum >= n_docs * 90 THEN n_tokens END) AS p90_tokens,
          |  min(CASE WHEN 100 * cum >= n_docs * 99 THEN n_tokens END) AS p99_tokens,
          |  max(n_tokens) AS max_tokens
          |FROM w GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", " ")),
    // the mixture budget solver over the data card (r13): integer targets
    // (budget·w div Σw) and repeat-epochs ceil per language — O(strata)
    // arithmetic after corpus_report's one corpus aggregate
    Query("mixture_budget", { (s, d) =>
      import s.implicits._
      val weights = Seq(("en", 60L), ("fr", 20L), ("de", 10L), ("es", 5L), ("zh", 5L))
        .toDF("lang", "weight")
      graft.operators.TrainingSet.mixtureBudget(
        graft.operators.TextAnalysis.corpusReport(documents(s, d)),
        weights, budgetTokens = 1000000L)
        .orderBy("lang")
    },
      // budget solver: the data card's token totals joined to the inline
      // weight table, all-integer targets and ceil epochs
      oracle =
        """WITH t AS (SELECT lang, len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n FROM documents),
          |avail AS (SELECT lang, CAST(sum(n) AS BIGINT) AS available_tokens FROM t GROUP BY lang),
          |w(lang, weight) AS (VALUES ('en', CAST(60 AS BIGINT)), ('fr', 20), ('de', 10), ('es', 5), ('zh', 5)),
          |ws AS (SELECT CAST(sum(weight) AS BIGINT) AS wsum FROM w)
          |SELECT a.lang, a.available_tokens, w.weight,
          |  (1000000 * w.weight) // ws.wsum AS target_tokens,
          |  CASE WHEN a.available_tokens > 0 THEN
          |    ((1000000 * w.weight) // ws.wsum + a.available_tokens - 1) // a.available_tokens END AS epochs
          |FROM avail a JOIN w ON a.lang = w.lang CROSS JOIN ws
          |ORDER BY a.lang""".stripMargin.replace("\n", " ")),
    // the full report → budget → SELECTION chain (r13): each language keeps
    // its minimal md5-rank prefix reaching the solver's token target, via
    // the two-level bucket cut (no per-stratum corpus window)
    Query("sample_budget_lang", { (s, d) =>
      import s.implicits._
      val weights = Seq(("en", 60L), ("fr", 20L), ("de", 10L), ("es", 5L), ("zh", 5L))
        .toDF("lang", "weight")
      val targets = graft.operators.TrainingSet.mixtureBudget(
        graft.operators.TextAnalysis.corpusReport(documents(s, d)),
        weights, budgetTokens = 6000L)
      graft.operators.TrainingSet.budgetedSample(documents(s, d), targets)
        .orderBy("lang", "doc_id")
    },
      // budgeted selection: the oracle replays the DEFINITION (one windowed
      // running sum in md5-rank order per language) — the engine's
      // two-level bucket cut must equal it exactly
      oracle =
        """WITH t AS (SELECT lang, doc_id, md5(text) AS rk, len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n FROM documents),
          |w(lang, weight) AS (VALUES ('en', CAST(60 AS BIGINT)), ('fr', 20), ('de', 10), ('es', 5), ('zh', 5)),
          |ws AS (SELECT CAST(sum(weight) AS BIGINT) AS wsum FROM w),
          |tg AS (SELECT w.lang, (6000 * w.weight) // ws.wsum AS target FROM w CROSS JOIN ws),
          |c AS (SELECT lang, doc_id, CAST(n AS BIGINT) AS n_tokens,
          |  CAST(sum(n) OVER (PARTITION BY lang ORDER BY rk, doc_id) AS BIGINT) AS cum FROM t)
          |SELECT c.lang, c.doc_id, c.n_tokens FROM c JOIN tg ON c.lang = tg.lang
          |WHERE c.cum - c.n_tokens < tg.target ORDER BY c.lang, c.doc_id""".stripMargin.replace("\n", " ")),
    // cross-increment token budget (r13): two crawl rounds against one
    // ledger — round 1 (10% of the corpus) fits inside every target, so
    // round 2 is cut at target minus the carried acceptance
    Query("sample_budget_increment", { (s, d) =>
      import s.implicits._
      val targets = Seq(("en", 2500L), ("fr", 900L), ("de", 900L), ("es", 900L), ("zh", 900L))
        .toDF("lang", "target_tokens")
      val docs = documents(s, d)
      val (_, ledger) = graft.operators.TrainingSet.budgetIncrement(
        docs.filter(col("doc_id") % 10 === 0), targets,
        graft.operators.TrainingSet.emptyBudgetConsumed(s))
      graft.operators.TrainingSet.budgetIncrement(
        docs.filter(col("doc_id") % 10 =!= 0), targets, ledger)._1
        .orderBy("lang", "doc_id")
    },
      // cross-increment budget: round 2's window cut at target minus round
      // 1's accepted token sum (the quota-increment oracle shape, in tokens)
      oracle =
        """WITH t AS (SELECT lang, doc_id, md5(text) AS rk, CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS n FROM documents),
          |w(lang, target) AS (VALUES ('en', CAST(2500 AS BIGINT)), ('fr', 900), ('de', 900), ('es', 900), ('zh', 900)),
          |r1 AS (SELECT lang, doc_id, n, CAST(sum(n) OVER (PARTITION BY lang ORDER BY rk, doc_id) AS BIGINT) AS cum FROM t WHERE doc_id % 10 = 0),
          |c1 AS (SELECT r1.lang, CAST(sum(n) AS BIGINT) AS used FROM r1 JOIN w USING (lang) WHERE cum - n < target GROUP BY 1),
          |r2 AS (SELECT lang, doc_id, n, CAST(sum(n) OVER (PARTITION BY lang ORDER BY rk, doc_id) AS BIGINT) AS cum FROM t WHERE doc_id % 10 <> 0)
          |SELECT r2.lang, r2.doc_id, r2.n AS n_tokens FROM r2 JOIN w USING (lang) LEFT JOIN c1 USING (lang)
          |WHERE r2.cum - r2.n < w.target - coalesce(c1.used, 0) ORDER BY r2.lang, r2.doc_id""".stripMargin.replace("\n", " ")),
    // epoch materialization (r13): the physical upsampling after the budget
    // solver — skewed weights force zh to 2 full epochs + a fractional one,
    // en to 1 + fraction, the rest fraction-only, all from one budget
    Query("sample_epochs_lang", { (s, d) =>
      import s.implicits._
      val weights = Seq(("en", 40L), ("fr", 5L), ("de", 10L), ("es", 5L), ("zh", 40L))
        .toDF("lang", "weight")
      val targets = graft.operators.TrainingSet.mixtureBudget(
        graft.operators.TextAnalysis.corpusReport(documents(s, d)),
        weights, budgetTokens = 30000L)
      graft.operators.TrainingSet.materializeEpochs(documents(s, d), targets)
        .orderBy("lang", "epoch", "doc_id")
    },
      // epoch materialization: full epochs via unnest(generate_series), the
      // fractional last epoch via the same windowed running-sum prefix
      oracle =
        """WITH t AS (SELECT lang, doc_id, md5(text) AS rk, CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS n FROM documents),
          |w(lang, weight) AS (VALUES ('en', CAST(40 AS BIGINT)), ('fr', 5), ('de', 10), ('es', 5), ('zh', 40)),
          |ws AS (SELECT CAST(sum(weight) AS BIGINT) AS wsum FROM w),
          |tg AS (SELECT w.lang, (30000 * w.weight) // ws.wsum AS target FROM w CROSS JOIN ws),
          |a AS (SELECT lang, CAST(sum(n) AS BIGINT) AS avail FROM t GROUP BY 1),
          |p AS (SELECT tg.lang, tg.target // a.avail AS fe, tg.target % a.avail AS rem FROM tg JOIN a USING (lang)),
          |c AS (SELECT lang, doc_id, n, CAST(sum(n) OVER (PARTITION BY lang ORDER BY rk, doc_id) AS BIGINT) AS cum FROM t),
          |fullp AS (SELECT c.lang, c.doc_id, unnest(generate_series(1, p.fe)) AS epoch, c.n FROM c JOIN p USING (lang) WHERE p.fe >= 1),
          |part AS (SELECT c.lang, c.doc_id, p.fe + 1 AS epoch, c.n FROM c JOIN p USING (lang) WHERE c.cum - c.n < p.rem)
          |SELECT lang, doc_id, epoch, n AS n_tokens FROM fullp
          |UNION ALL SELECT lang, doc_id, epoch, n AS n_tokens FROM part
          |ORDER BY lang, epoch, doc_id""".stripMargin.replace("\n", " ")),
    // deterministic per-language quota sample (50 smallest content hashes per
    // stratum) via a bounded bottom-k aggregate, not a window
    Query("sample_quota_lang", (s, d) =>
      graft.operators.TrainingSet.quotaSample(documents(s, d), quota = 50)
        .orderBy("lang", "rk"),
      // quota sampling: rank = row_number over (md5(text), doc_id) per lang —
      // the engine's bottom-k aggregate must reproduce it exactly
      oracle =
        ("SELECT lang, rk, doc_id FROM (SELECT lang, doc_id, " +
          "row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk " +
          "FROM documents) WHERE rk <= 50 ORDER BY lang, rk")),
    // temperature-flattened mixture (α = 1/2): each lang keeps
    // ceil(sqrt(n_lang)) docs by the same deterministic md5 rank — the
    // multilingual α-sampling standard, quota COMPUTED from the mixture;
    // nested-sqrt spelling keeps the ceil integer identical in both engines
    Query("sample_temperature_lang", (s, d) =>
      graft.operators.TrainingSet.temperatureSample(documents(s, d), alphaQuarters = 2)
        .orderBy("lang", "rk"),
      // α = 2/4: quota = ceil(1.0 * sqrt(sqrt(n)) * sqrt(sqrt(n))) — the
      // nested-sqrt left-associated product the engine computes driver-side
      // (IEEE sqrt/multiply are correctly rounded; pow() could differ by an
      // ulp between libms and flip the ceil)
      oracle =
        ("WITH cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1), " +
          "q AS (SELECT lang, least(n, CAST(ceil(1.0 * (sqrt(sqrt(CAST(n AS DOUBLE))) * " +
          "sqrt(sqrt(CAST(n AS DOUBLE))))) AS BIGINT)) AS t FROM cnt), " +
          "r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang " +
          "ORDER BY md5(text), doc_id) AS rk FROM documents) " +
          "SELECT r.lang, r.rk, r.doc_id FROM r JOIN q USING (lang) " +
          "WHERE r.rk <= q.t ORDER BY lang, rk")),
    // the FLAGSHIP composition: exact dedup → near-dup cluster keep-one →
    // quality gate → benchmark decontamination → per-lang quota → context-
    // window packing, all six stages under ONE DuckDB oracle
    Query("pipeline_training_set", { (s, d) =>
      val docs = documents(s, d)
      graft.operators.TrainingSet.buildTrainingSet(
        docs, docs.filter(col("doc_id") % 20 === 0)).orderBy("doc_id")
    },
      // the six-stage training-set build, re-derived relationally: stages
      // 1-4 (trainingCtesThroughD4) → per-lang row_number quota →
      // window-cumsum packing
      oracle =
        "WITH RECURSIVE " + trainingCtesThroughD4 +
          "d5 AS (SELECT * FROM (SELECT d4.*, row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk FROM d4) WHERE rk <= 50), " +
          "c AS (SELECT d5.doc_id, d5.lang, tok.n_tokens, " +
          "CAST(COALESCE(sum(tok.n_tokens) OVER (ORDER BY d5.doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset " +
          "FROM d5 JOIN tok ON d5.doc_id = tok.doc_id) " +
          "SELECT doc_id, lang, n_tokens, start_offset, start_offset // 512 AS bin_start " +
          "FROM c ORDER BY doc_id"),
    // the MODERN flagship (VERDICT r10 next #1): the full chain a 2024-era
    // pretraining pipeline actually runs — stages 1-4 as above, then DSIR
    // steering against the persisted target/raw models, the temperature-
    // flattened mixture hard-capped at 50/stratum, and BPE-priced packing
    // under the persisted 40-merge model (identity stamped into the
    // manifest schema). ONE DuckDB oracle replays all eight stages — the
    // BPE counts enter it as the committed, sentinel-pinned per-doc count
    // table (bpe_counts_sf0.01.tsv, the pack_sequences_bpe fixture pattern),
    // everything else relationally. Like dedup_semantic, the oracle is
    // defined at sf0.01 (the driver's gate SF) — the count table describes
    // that corpus's model.
    Query("pipeline_training_set_v2", { (s, d) =>
      val docs = documents(s, d)
      graft.operators.TrainingSet.buildTrainingSetV2(
        docs, docs.filter(col("doc_id") % 20 === 0),
        Fixtures.dsirTargetModel(s, d), Fixtures.dsirRawModel(s, d),
        Fixtures.bpeModel(s, d)).orderBy("doc_id")
    },
      // the MODERN chain replayed relationally end-to-end: V1's stages 1-4
      // verbatim, then both DSIR models + both surprisal ladders over d4
      // (the dsir_select arithmetic — floor-divided per-token advantage,
      // md5-hex acceptance), the temperature mixture hard-capped at 50
      // (same md5 rank order, so the cap is one filter), and the window-
      // cumsum packing priced by the COMMITTED per-doc BPE counts
      // (sentinel-pinned golden — the greedy merge loop itself has no
      // relational spelling, so its output enters as a verified input,
      // exactly like the winnow fingerprints and SemDeDup centroids)
      oracle = (
        "WITH RECURSIVE " + v2CtesThroughD6 + ", " +
          "c AS (SELECT d6.doc_id, d6.lang, b.n_bpe AS n_tokens, " +
          "CAST(COALESCE(sum(b.n_bpe) OVER (ORDER BY d6.doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset " +
          "FROM d6 JOIN bpec b USING (doc_id)) " +
          "SELECT doc_id, lang, n_tokens, start_offset, start_offset // 512 AS bin_start " +
          "FROM c ORDER BY doc_id")),
    // the WHOLE-DOC twin of the modern flagship (VERDICT r12 next #5):
    // identical stages 1-6, then the no-straddle fill-transition fold
    // instead of concat-and-chunk — the layout users pick when cross-doc
    // attention contamination matters. ONE oracle replays all eight stages;
    // the packing stage is the linear recursive-CTE fold over the SELECTED
    // docs' sentinel-pinned BPE counts.
    Query("pipeline_training_set_v2_whole", { (s, d) =>
      val docs = documents(s, d)
      graft.operators.TrainingSet.buildTrainingSetV2(
        docs, docs.filter(col("doc_id") % 20 === 0),
        Fixtures.dsirTargetModel(s, d), Fixtures.dsirRawModel(s, d),
        Fixtures.bpeModel(s, d), wholeDoc = true).orderBy("doc_id")
    },
      // the whole-doc twin: stages 1-6 verbatim (the SAME CTE prefix — one
      // stage definition, two packing layouts, so the twins cannot drift),
      // then the non-associative fill-transition fold as a linear recursive
      // CTE over the SELECTED docs' sentinel-pinned counts, exactly the
      // pack_sequences_whole_bpe fold with d6's rows as the sequence
      oracle = (
        "WITH RECURSIVE " + v2CtesThroughD6 + ", " +
          "o AS (SELECT d6.doc_id, d6.lang, b.n_bpe AS n_tokens, " +
          "row_number() OVER (ORDER BY d6.doc_id) AS rn FROM d6 JOIN bpec b USING (doc_id)), " +
          "fold(rn, doc_id, n_tokens, bin_id, bin_offset, fill) AS (" +
          "SELECT rn, doc_id, n_tokens, CAST(0 AS BIGINT), CAST(0 AS BIGINT), n_tokens FROM o WHERE rn = 1 " +
          "UNION ALL SELECT o.rn, o.doc_id, o.n_tokens, " +
          "CASE WHEN f.fill + o.n_tokens > 512 THEN f.bin_id + 1 ELSE f.bin_id END, " +
          "CASE WHEN f.fill + o.n_tokens > 512 THEN CAST(0 AS BIGINT) ELSE f.fill END, " +
          "CASE WHEN f.fill + o.n_tokens > 512 THEN o.n_tokens ELSE f.fill + o.n_tokens END " +
          "FROM fold f JOIN o ON o.rn = f.rn + 1) " +
          "SELECT f.doc_id, o.lang, f.n_tokens, f.bin_id, f.bin_offset " +
          "FROM fold f JOIN o USING (rn) ORDER BY f.doc_id")),
    // the CRAWL ROUND-TRIP (VERDICT r7 #4): exact probe → span cut → PII
    // scrub → repetition gate against the persisted base index, one oracle.
    // Delta = 5% of the corpus (a crawl increment is small relative to its
    // base — and the span-cut stage's uncapped gram join is sized by the
    // delta, so registering a 20% delta would bench the wrong regime).
    // INVARIANT (ADVICE r8): the base split MUST equal the corpus the
    // fixture index was built over — Fixtures.buildIndex uses
    // doc_id % 5 != 0 — or docs present in the oracle's corpus would be
    // invisible to the engine's probes (the gate then holds only while no
    // fixture pair crosses the difference set).
    // The synthetic corpus has no delta-vs-base exact dups or PII at the
    // gate sf, so the query PLANTS both deterministically (mirrored in the
    // oracle): every 5th delta doc becomes an exact copy of base doc
    // id−49; every 7th/11th/13th non-copy delta doc gains an email/IP/
    // phone — all four stages verifiably live. appendIndex (stage 5) is
    // exercised by IncrementalDedupSpec's round-trip test (re-crawling the
    // accepted output against the grown index finds only exact dups).
    Query("pipeline_crawl_increment", { (s, d) =>
      val (planted, base) = crawlPlantedDelta(s, d)
      graft.operators.TrainingSet
        .crawlIncrement(planted, Fixtures.dedupIndex(s, d), base)._1
        .orderBy("doc_id")
    },
      // the crawl round-trip replayed relationally, stage by stage: planted
      // delta (every 5th delta doc (ids % 100 = 0) = exact copy of base doc id−49, every
      // 7th/11th/13th non-copy doc gains planted PII) → exact keep = min id
      // over base ∪ delta per content hash → UNCAPPED spans over base ∪
      // surviving delta, removal restricted to delta id_b → PII scrub with
      // each count on the intermediate its redaction pass consumes →
      // repetition gate by exact integer cross-multiplication
      oracle =
        s"""WITH $crawlOracleCtes
           |SELECT doc_id, clean_text, n_removed, n_emails, n_ips, n_phones, n_tokens
           |FROM acc ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    // the same composition with the stage-4.5 LM QUALITY GATE live
    // (VERDICT r8 #7): survivors additionally scored against the PERSISTED
    // clean-split model (Fixtures.lmModel — the model filter_lm_score
    // serves), kept iff their bits/token is at or below the increment's
    // own mean. One oracle replays all six stages including the LM.
    Query("pipeline_crawl_lm_gate", { (s, d) =>
      val (planted, base) = crawlPlantedDelta(s, d)
      graft.operators.TrainingSet
        .crawlIncrement(planted, Fixtures.dedupIndex(s, d), base,
          lmModel = Some(Fixtures.lmModel(s, d)))._1
        .orderBy("doc_id")
    },
      // the LM-gated composition: same CTEs + the clean-split model trained
      // and replayed relationally, acc docs kept iff bits/token ≤ the
      // increment's own mean (identical cross-multiplication witness)
      oracle =
        s"""WITH $crawlOracleCtes,
           |$lmModelOracleCtes,
           |ldt AS (SELECT doc_id, regexp_split_to_array(lower(trim(clean_text)), '\\s+') AS t FROM acc
           |  WHERE len(regexp_split_to_array(lower(trim(clean_text)), '\\s+')) >= 1),
           |lpos AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS lnt,
           |    unnest(list_transform(range(1, len(t)+1),
           |      i -> struct_pack(w := t[i], prev := CASE WHEN i > 1 THEN t[i-1] ELSE NULL END))) AS p
           |  FROM ldt),
           |lsc AS (SELECT doc_id, lnt,
           |    CASE WHEN (p).prev IS NULL THEN
           |           CASE WHEN uni.cw IS NOT NULL THEN (length(bin(T))-1) - (length(bin(uni.cw))-1)
           |                ELSE length(bin(T)) END
           |         WHEN big.cuv IS NOT NULL AND up.cw IS NOT NULL THEN (length(bin(up.cw))-1) - (length(bin(big.cuv))-1)
           |         WHEN uni.cw IS NOT NULL THEN 1 + (length(bin(T))-1) - (length(bin(uni.cw))-1)
           |         ELSE length(bin(T)) END AS bits
           |  FROM lpos CROSS JOIN tot
           |  LEFT JOIN uni ON (p).w = uni.w
           |  LEFT JOIN uni up ON (p).prev = up.w
           |  LEFT JOIN big ON (p).prev || ' ' || (p).w = big.bg),
           |lpd AS (SELECT doc_id, lnt, CAST(sum(bits) AS BIGINT) AS lm_bits FROM lsc GROUP BY 1,2),
           |lct AS (SELECT CAST(sum(lnt) AS BIGINT) AS tot_tok, CAST(sum(lm_bits) AS BIGINT) AS tot_bits FROM lpd),
           |lkeep AS (SELECT doc_id FROM lpd CROSS JOIN lct WHERE lm_bits*tot_tok*1 <= lnt*tot_bits*1)
           |SELECT doc_id, clean_text, n_removed, n_emails, n_ips, n_phones, n_tokens
           |FROM acc SEMI JOIN lkeep USING (doc_id) ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    // the same composition with the stage-4.4 TRAINED LINEAR PRE-GATE
    // live (r13): the LR model rides the plan as literals and filters the
    // cleaned survivors at score ≥ 0.5 BEFORE any expensive stage — the
    // cheap-proxy-in-front-of-the-LM-gate composition the classifier
    // exists for. Since r14 the weights come from the PERSISTED store
    // (Fixtures.lrModel, the same snapshot quality_filter_lr serves) —
    // the query measures the crawl + scoring filter, not a 16-aggregate
    // retrain per invocation. ONE oracle replays all five crawl stages
    // plus the full training trajectory plus the scoring filter (the
    // trajectory is bit-deterministic, so the replay gates the store).
    Query("pipeline_crawl_lr_gate", { (s, d) =>
      val (planted, base) = crawlPlantedDelta(s, d)
      graft.operators.TrainingSet
        .crawlIncrement(planted, Fixtures.dedupIndex(s, d), base,
          lrGate = Some(Fixtures.lrModel(s, d).weights.toArray))._1
        .orderBy("doc_id")
    },
      // the LR-pre-gated composition: crawl CTEs + the full 16-iteration
      // training trajectory (q_-prefixed chain, trained on the base
      // documents exactly like quality_train_lr) + one scoring pass over
      // the accepted docs' clean_text — keep iff the bit-identical score
      // clears 0.5
      oracle =
        (s"WITH $crawlOracleCtes, ${qualityLrOracleCtes("q_")}, " +
          s"q_am AS (${qualityLrMetricSql("acc", "clean_text")}), " +
          s"q_af AS (SELECT doc_id, $qualityLrXItems FROM q_am), " +
          s"q_sc AS (SELECT doc_id, 0.5 + $qualityLrZ/(2.0*(1.0+abs($qualityLrZ))) AS score " +
          s"FROM q_af CROSS JOIN q_wi$QualityLrIters) " +
          "SELECT doc_id, clean_text, n_removed, n_emails, n_ips, n_phones, n_tokens " +
          "FROM acc SEMI JOIN (SELECT doc_id FROM q_sc WHERE score >= 0.5) USING (doc_id) " +
          "ORDER BY doc_id").replace("\n", " ")),
    // the crawl composition + DSIR target-distribution steering: the
    // accepted manifest's clean_text scored against the SAME persisted
    // target/raw models the standalone dsir queries serve (a crawl
    // pipeline steers every increment toward the target distribution with
    // frozen models — train-once/score-many), selection by the md5
    // threshold. ONE oracle replays all five crawl stages plus both
    // surprisal ladders plus the selection arithmetic.
    Query("pipeline_crawl_dsir", { (s, d) =>
      val (planted, base) = crawlPlantedDelta(s, d)
      val accepted = graft.operators.TrainingSet
        .crawlIncrement(planted, Fixtures.dedupIndex(s, d), base)._1
      Corpus.dsirSelect(accepted,
        Fixtures.dsirTargetModel(s, d), Fixtures.dsirRawModel(s, d),
        textCol = "clean_text").orderBy("doc_id")
    },
      // the crawl composition + DSIR steering: all five crawl stages (the
      // shared crawlOracleCtes chain through `acc`) + both model trainings
      // + both ladders over acc.clean_text + the selection arithmetic
      oracle =
        (s"WITH $crawlOracleCtes, ${dsirOracleCtesOver("acc", "clean_text")}, " +
          "dtb AS (SELECT p.doc_id, p.n_tokens, p.dsir_bits, " +
          "CAST((p.dsir_bits - ((p.dsir_bits % p.n_tokens) + p.n_tokens) % p.n_tokens) // p.n_tokens AS BIGINT) AS tok_bits, " +
          "substr(md5(a.clean_text),1,12) AS hex12 " +
          "FROM dpd p JOIN acc a USING (doc_id)) " +
          "SELECT doc_id, n_tokens, dsir_bits, tok_bits, " +
          "CASE WHEN tok_bits >= 0 THEN TRUE " +
          "WHEN tok_bits >= -48 THEN hex12 < printf('%012x', CAST(1 AS BIGINT) << CAST(48 + greatest(tok_bits, -48) AS INT)) " +
          "ELSE FALSE END AS keep " +
          "FROM dtb ORDER BY doc_id").replace("\n", " ")),
    // the crawl composition + the loop's DEFAULT quota key (VERDICT r9 gap
    // #4): accepted docs carry a deterministic host — every doc_id % 3 != 0
    // (two thirds of the accepted set, so the cut BITES at the sf0.01 gate:
    // 4 farm docs vs quota 3) is a subdomain LINK FARM on one registrant
    // (a<id>.farm.github.io, each host distinct so a host-keyed quota would
    // pass every one — StreamingCrawlSpec pins that contrast), the rest own
    // registrable domains (www.site<id>.net). quotaKeyEtld collapses the
    // farm to the single key farm.github.io (github.io is a PSL
    // private-section suffix), so quota 3 cuts it; the oracle replays
    // pipeline → PSL → coalesce fallback → bottom-k-by-md5 ranking
    Query("pipeline_crawl_quota_etld", { (s, d) =>
      val (planted, base) = crawlPlantedDelta(s, d)
      val accepted = graft.operators.TrainingSet
        .crawlIncrement(planted, Fixtures.dedupIndex(s, d), base)._1
      val host = when(col("doc_id") % 3 =!= 0,
          concat(lit("a"), col("doc_id").cast("string"), lit(".farm.github.io")))
        .otherwise(concat(lit("www.site"), col("doc_id").cast("string"), lit(".net")))
      Corpus.domainQuota(
        Corpus.quotaKeyEtld(
          accepted.withColumn("domain", host), graft.sources.PslSnapshot.df(s)),
        quota = 3, domainCol = "quota_key", textCol = "clean_text")
        .orderBy("quota_key", "rk")
    },
      // the crawl composition under the loop's default eTLD+1 quota key:
      // same acc CTEs + the deterministic host plant, the PSL algorithm,
      // the raw-host fallback, and the md5 bottom-k ranking — one oracle
      // over all of it
      oracle =
        (s"WITH $crawlOracleCtes, " +
          "hosts AS (SELECT doc_id, clean_text, CASE WHEN doc_id % 3 <> 0 " +
          "THEN 'a' || doc_id || '.farm.github.io' " +
          "ELSE 'www.site' || doc_id || '.net' END AS domain FROM acc), " +
          s"reg AS (${pslRegSql("hosts", "doc_id, clean_text, domain")}), " +
          "kq AS (SELECT doc_id, clean_text, coalesce(reg_domain, domain) AS quota_key FROM reg) " +
          "SELECT quota_key, rk, doc_id FROM (SELECT quota_key, doc_id, " +
          "row_number() OVER (PARTITION BY quota_key ORDER BY md5(clean_text), doc_id) AS rk " +
          "FROM kq) WHERE rk <= 3 ORDER BY quota_key, rk").replace("\n", " "))
  )
}
