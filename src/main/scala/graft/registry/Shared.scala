package graft.registry

/**
 * The DuckDB SQL builders the query families' oracles are written in (bucket
 * math, n-gram shingles, the ANN scoring tail, the training-set, LM, DSIR and
 * quality-model chains, the PSL and exact-span replays) and the committed
 * golden fixtures' location.
 */
private[registry] object Shared {
  // Sentinel-fixture TSVs resolved RELATIVE TO THE REPO ROOT: walk up from
  // user.dir to the directory holding build.sbt, so the oracles run from any
  // checkout location. All sentinel-backed oracles are defined at sf0.01 —
  // the SF the driver's correctness gate runs — because the fixtures
  // describe that corpus (see the span_near_dup caveat).
  lazy val goldenDir: String = {
    var d = new java.io.File(System.getProperty("user.dir")).getCanonicalFile
    while (d != null && !new java.io.File(d, "build.sbt").isFile) d = d.getParentFile
    new java.io.File(
      if (d != null) d else new java.io.File(System.getProperty("user.dir")),
      "src/test/resources/golden").getPath
  }

  // ---- oracle SQL builders (DuckDB dialect) -----------------------------------
  /** Exact integer bucket arithmetic, identical to TsAgg.bucketStartExpr. */
  def bucketSql(t0: Long, ivMs: Long, tsExpr: String): String =
    s"$t0 + (($tsExpr - $t0) - ($tsExpr - $t0) % $ivMs)"

  def tsAggSql(aggSelect: String, t0: Long, endMs: Long, ivMs: Long,
               table: String = "events", tsExpr: String = "epoch_ms(ts)",
               extraKey: String = "", extraWhere: String = ""): String = {
    val b = bucketSql(t0, ivMs, tsExpr)
    val keySel = if (extraKey.isEmpty) "" else s"$extraKey, "
    val keyGrp = if (extraKey.isEmpty) "1" else s"1, 2"
    val where = if (extraWhere.isEmpty) "" else s" AND $extraWhere"
    s"SELECT $keySel$b AS bucket_start, $aggSelect FROM $table " +
      s"WHERE $tsExpr >= $t0 AND $tsExpr < $endMs$where GROUP BY $keyGrp ORDER BY $keyGrp"
  }

  // distinct word-n-gram sets per doc from `source` (any table/CTE with
  // doc_id + text) — the one shingle definition every n-gram oracle shares.
  // DuckDB list slicing is 1-based inclusive: toks[i:i+(n-1)] is n tokens,
  // i ranging 1..len-n+1 (range() excludes its upper bound)
  def shingleCte(name: String, source: String, n: Int = 3): String =
    s"$name AS (SELECT doc_id AS id, list_distinct(list_transform(range(1, len(toks)-${n - 2}), i -> array_to_string(toks[i:i+${n - 1}], ' '))) AS sh " +
      s"FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM $source) WHERE len(toks) >= $n)"
  // The exact-Jaccard pair definition, shared verbatim by the pair query
  // and the cluster query so the two oracles can never drift apart. `e2`
  // mirrors the engine's default hot-shingle cap (maxShingleFreq = 1000):
  // shingles in more than 1000 docs are pruned from the join on BOTH sides
  // while n (the per-doc shingle count) stays pre-prune — byte-identical
  // semantics, so the oracle cannot silently diverge on a corpus where the
  // cap actually fires.
  def ngramCtes(source: String = "documents"): String =
    shingleCte("t", source) + ", " +
      """e AS (SELECT id, len(sh) AS n, unnest(sh) AS s FROM t),
        |ok AS (SELECT s FROM e GROUP BY s HAVING count(*) <= 1000),
        |e2 AS (SELECT e.* FROM e JOIN ok USING (s))""".stripMargin.replace("\n", " ")
  val ngramPairSelect =
    """SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter, a.n + b.n - count(*) AS n_union
      |FROM e2 a JOIN e2 b ON a.s = b.s AND a.id < b.id
      |GROUP BY a.id, b.id, a.n, b.n
      |HAVING count(*) * 2 >= 1 * (a.n + b.n - count(*))""".stripMargin.replace("\n", " ")
  // Shared scoring tail for the approximate-ANN oracles: given a `cand`
  // CTE of (qid, nid) pairs, compute the exact double cosine (the same
  // left-to-right float→double fold as ArrayDotProduct — per-term
  // products are exact in double, so only the fold order matters, and
  // DuckDB's list_sum matches it) and take the (cosine DESC, nid ASC)
  // top-5 per query, mirroring Similarity.topK's NaN-drop and ranking.
  def annCosineTopkOver(prefixCtes: String): String =
    s"""WITH $prefixCtes,
      |v AS (SELECT vec_id, embedding FROM embeddings),
      |n AS (SELECT vec_id, sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm FROM v),
      |scored AS (SELECT cand.qid, cand.nid,
      |    list_sum(list_transform(range(1, 65), i -> CAST(qv.embedding[i] AS DOUBLE) * CAST(cv.embedding[i] AS DOUBLE)))
      |      / (qn.nrm * cn.nrm) AS cosine
      |  FROM cand JOIN v qv ON qv.vec_id = cand.qid JOIN v cv ON cv.vec_id = cand.nid
      |  JOIN n qn ON qn.vec_id = cand.qid JOIN n cn ON cn.vec_id = cand.nid),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
      |  FROM scored WHERE cosine IS NOT NULL AND NOT isnan(cosine))
      |SELECT qid, nid, cosine, CAST(rank AS BIGINT) AS rank FROM r
      |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin.replace("\n", " ")

  // Stages 1-4 shared by every training-set chain, through `d4`, each CTE
  // followed by ", ": exact dedup (min id per md5) → connected-component
  // keep-one (recursive closure over the SAME capped pair definition as
  // dedup_clusters, but on the dedup survivors) → quality gate →
  // decontamination (5-gram overlap with the doc_id%20=0 benchmark split,
  // which is also itself excluded). (Caller prepends "WITH RECURSIVE ".)
  def trainingCtesThroughD4: String =
    "keep1 AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)), " +
      "d1 AS (SELECT d.* FROM documents d JOIN keep1 USING (doc_id)), " +
      s"${ngramCtes("d1")}, pairs AS ($ngramPairSelect), " +
      "und AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs), " +
      "reach(a, b) AS (SELECT a, b FROM und UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a), " +
      "mn AS (SELECT a, min(b) AS mb FROM reach GROUP BY a), " +
      "d2 AS (SELECT d1.* FROM d1 LEFT JOIN mn ON d1.doc_id = mn.a " +
      "WHERE least(d1.doc_id, coalesce(mn.mb, d1.doc_id)) = d1.doc_id), " +
      "tok AS (SELECT doc_id, len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_tokens FROM documents), " +
      "d3 AS (SELECT d2.* FROM d2 JOIN tok USING (doc_id) WHERE d2.n_chars >= 20 AND tok.n_tokens >= 10), " +
      shingleCte("ash", "documents", n = 5) + ", " +
      "trs AS (SELECT a.id, unnest(a.sh) AS s FROM ash a JOIN d3 ON a.id = d3.doc_id WHERE a.id % 20 <> 0), " +
      "bs AS (SELECT DISTINCT unnest(sh) AS s FROM ash WHERE id % 20 = 0), " +
      "contam AS (SELECT DISTINCT trs.id FROM trs JOIN bs USING (s)), " +
      "d4 AS (SELECT * FROM d3 WHERE doc_id % 20 <> 0 AND doc_id NOT IN (SELECT id FROM contam)), "

  // The MODERN training-set chain's stages 1-6 + the sentinel count table,
  // shared by pipeline_training_set_v2 and its whole-doc twin so the two
  // oracles replay IDENTICAL stage semantics and differ only in the
  // packing layout. (Caller prepends "WITH RECURSIVE ".)
  def v2CtesThroughD6: String =
    trainingCtesThroughD4 +
      s"${dsirOracleCtesOver("d4", "text")}, " +
      "tb AS (SELECT p.doc_id, " +
      "CAST((p.dsir_bits - ((p.dsir_bits % p.n_tokens) + p.n_tokens) % p.n_tokens) // p.n_tokens AS BIGINT) AS tok_bits, " +
      "substr(md5(d.text),1,12) AS hex12 FROM dpd p JOIN d4 d USING (doc_id)), " +
      "keepsel AS (SELECT doc_id FROM tb WHERE tok_bits >= 0 OR (tok_bits >= -48 " +
      "AND hex12 < printf('%012x', CAST(1 AS BIGINT) << CAST(48 + greatest(tok_bits, -48) AS INT)))), " +
      "d5 AS (SELECT d4.* FROM d4 SEMI JOIN keepsel USING (doc_id)), " +
      "cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM d5 GROUP BY 1), " +
      "q AS (SELECT lang, least(n, CAST(ceil(1.0 * (sqrt(sqrt(CAST(n AS DOUBLE))) * " +
      "sqrt(sqrt(CAST(n AS DOUBLE))))) AS BIGINT)) AS t FROM cnt), " +
      "r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang " +
      "ORDER BY md5(text), doc_id) AS rk FROM d5), " +
      "sel AS (SELECT r.doc_id FROM r JOIN q USING (lang) WHERE r.rk <= least(q.t, 50)), " +
      "d6 AS (SELECT d5.* FROM d5 SEMI JOIN sel USING (doc_id)), " +
      s"bpec AS (SELECT doc_id, n_bpe FROM read_csv('$goldenDir/bpe_counts_sf0.01.tsv', " +
      "delim='\\t', skip=2, header=false, columns={'doc_id': 'BIGINT', 'n_bpe': 'BIGINT'}))"

  /** One model's CTE chain, name-spaced by `p` so two models can coexist in
    * one WITH (the DSIR oracles train a target and a raw model side by
    * side); `totCol` names the uncapped total so the two T scalars don't
    * collide after the CROSS JOINs. */
  def lmModelCtesFor(p: String, trainWhere: String, totCol: String): String =
    s"""${p}tr AS (SELECT text FROM documents WHERE $trainWhere),
      |${p}u0 AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w FROM ${p}tr),
      |${p}uni0 AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM ${p}u0 GROUP BY 1),
      |${p}tot AS (SELECT CAST(sum(cw) AS BIGINT) AS $totCol FROM ${p}uni0),
      |${p}uni AS (SELECT w, cw FROM ${p}uni0 ORDER BY cw DESC, w ASC LIMIT 1048576),
      |${p}bt AS (SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM ${p}tr),
      |${p}b0 AS (SELECT unnest(CASE WHEN len(t)>=2 THEN list_transform(range(1,len(t)), i -> t[i] || ' ' || t[i+1]) ELSE [] END) AS bg FROM ${p}bt),
      |${p}big AS (SELECT bg, CAST(count(*) AS BIGINT) AS cuv FROM ${p}b0 GROUP BY 1 HAVING count(*) >= 2 ORDER BY cuv DESC, bg ASC LIMIT 1048576)"""
      .stripMargin.replace("\n", " ")

  /** The DSIR oracle's shared CTE chain: both models (target = `lang =
    * 'en'`, raw = the whole table — [[graft.sources.Fixtures]]'s two
    * persisted DSIR models, ALWAYS trained on `documents`), one
    * token-position explode over `srcTable`.`textCol` (the scored frame —
    * `documents.text` for the standalone queries, the crawl manifest's
    * `acc.clean_text` for the composed gate), BOTH surprisal ladders (the
    * same CASE as `filter_lm_score`'s, once per model), and the per-doc
    * aggregate `dpd(doc_id, n_tokens, bits_target, bits_raw,
    * dsir_bits)`. */
  def dsirOracleCtesOver(srcTable: String, textCol: String): String =
    s"""${lmModelCtesFor("t_", "lang = 'en'", "T_t")},
      |${lmModelCtesFor("r_", "TRUE", "T_r")},
      |dt AS (SELECT doc_id, regexp_split_to_array(lower(trim($textCol)), '\\s+') AS t FROM $srcTable
      |  WHERE len(regexp_split_to_array(lower(trim($textCol)), '\\s+')) >= 1),
      |pos AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
      |    unnest(list_transform(range(1, len(t)+1),
      |      i -> struct_pack(w := t[i], prev := CASE WHEN i > 1 THEN t[i-1] ELSE NULL END))) AS p
      |  FROM dt),
      |sc AS (SELECT doc_id, n_tokens,
      |    CASE WHEN (p).prev IS NULL THEN
      |           CASE WHEN t_uni.cw IS NOT NULL THEN (length(bin(T_t))-1) - (length(bin(t_uni.cw))-1)
      |                ELSE length(bin(T_t)) END
      |         WHEN t_big.cuv IS NOT NULL AND t_up.cw IS NOT NULL THEN (length(bin(t_up.cw))-1) - (length(bin(t_big.cuv))-1)
      |         WHEN t_uni.cw IS NOT NULL THEN 1 + (length(bin(T_t))-1) - (length(bin(t_uni.cw))-1)
      |         ELSE length(bin(T_t)) END AS bt,
      |    CASE WHEN (p).prev IS NULL THEN
      |           CASE WHEN r_uni.cw IS NOT NULL THEN (length(bin(T_r))-1) - (length(bin(r_uni.cw))-1)
      |                ELSE length(bin(T_r)) END
      |         WHEN r_big.cuv IS NOT NULL AND r_up.cw IS NOT NULL THEN (length(bin(r_up.cw))-1) - (length(bin(r_big.cuv))-1)
      |         WHEN r_uni.cw IS NOT NULL THEN 1 + (length(bin(T_r))-1) - (length(bin(r_uni.cw))-1)
      |         ELSE length(bin(T_r)) END AS br
      |  FROM pos CROSS JOIN t_tot CROSS JOIN r_tot
      |  LEFT JOIN t_uni ON (p).w = t_uni.w
      |  LEFT JOIN t_uni t_up ON (p).prev = t_up.w
      |  LEFT JOIN t_big ON (p).prev || ' ' || (p).w = t_big.bg
      |  LEFT JOIN r_uni ON (p).w = r_uni.w
      |  LEFT JOIN r_uni r_up ON (p).prev = r_up.w
      |  LEFT JOIN r_big ON (p).prev || ' ' || (p).w = r_big.bg),
      |dpd AS (SELECT doc_id, n_tokens, CAST(sum(bt) AS BIGINT) AS bits_target,
      |    CAST(sum(br) AS BIGINT) AS bits_raw,
      |    CAST(sum(br) - sum(bt) AS BIGINT) AS dsir_bits
      |  FROM sc GROUP BY 1,2)"""
      .stripMargin.replace("\n", " ")

  /** Render a stopword list as a SQL IN-list. */
  def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString(", ")

  // shared with the oracle SQL's chained-CTE replay of the trajectory
  // (and with Fixtures.lrModel via trainLrModel's defaults)
  val QualityLrIters = 16
  val QualityLrRate = 4.0

  /** z = w·x in [[graft.operators.QualityModel]]'s fixed left-fold order —
    * the evaluation-order contract both engines share. */
  val qualityLrZ = "((((w0*x0 + w1*x1) + w2*x2) + w3*x3) + w4*x4)"

  /** The four exact integer surface metrics over `$src`.`$textCol` — the
    * SQL twin of [[graft.operators.QualityModel]]'s feature inputs. */
  def qualityLrMetricSql(src: String, textCol: String): String =
    s"""SELECT doc_id,
      |  CAST(length($textCol) AS BIGINT) AS n_chars,
      |  CAST(len(regexp_split_to_array(lower(trim($textCol)), '\\s+')) AS BIGINT) AS n_tokens,
      |  CAST(length(regexp_replace($textCol, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
      |  CAST(len(list_filter(regexp_split_to_array(lower(trim($textCol)), '\\s+'), x -> x IN (${sqlList(graft.functions.TextFunctions.StopEn)}))) AS BIGINT) AS n_stop
      | FROM $src""".stripMargin

  /** The five feature items (x0..x4) from those metrics, identical
    * arithmetic to `QualityModel.featureExprs`. */
  val qualityLrXItems =
    """1.0 AS x0,
      |  CAST(n_tokens AS DOUBLE)/100.0 AS x1,
      |  CAST(n_stop AS DOUBLE)/greatest(CAST(n_tokens AS DOUBLE), 1.0)*10.0 AS x2,
      |  CAST(n_punct AS DOUBLE)/greatest(CAST(n_tokens AS DOUBLE), 1.0) AS x3,
      |  CAST(n_chars AS DOUBLE)/greatest(CAST(n_tokens AS DOUBLE), 1.0)/10.0 AS x4""".stripMargin

  /**
   * The quality-LR oracle's CTE chain: exact integer surface metrics →
   * features + heuristic-gate label (y = quality_score ≥ 0.8), then
   * [[QualityLrIters]] chained (rational-sigmoid → 1e-9-integer-quantized
   * gradient sum → weight update) CTE triples replaying
   * [[graft.operators.QualityModel.trainLr]]'s arithmetic op-for-op —
   * every operation IEEE correctly-rounded in both engines, so the weight
   * trajectory is bit-identical. Ends at `${p}wi<iters>`(w0..w4); `${p}fe`
   * stays in scope for the scoring oracle. CTE names carry prefix `p` so
   * the chain composes into oracles with their own CTE namespace (the
   * crawl pre-gate uses `q_`).
   */
  def qualityLrOracleCtes(p: String = ""): String = {
    val sb = new StringBuilder
    sb.append(
      s"""${p}m AS (${qualityLrMetricSql("documents", "text")}),
        |${p}fe AS MATERIALIZED (SELECT doc_id,
        |  CASE WHEN least(1.0, greatest(0.0,
        |      0.4*least(1.0, CAST(n_tokens AS DOUBLE)/50.0)
        |      + 0.3*(1.0 - least(1.0, n_punct/greatest(CAST(n_tokens AS DOUBLE), 1.0)))
        |      + 0.3*least(1.0, n_stop*8.0/greatest(CAST(n_tokens AS DOUBLE), 1.0)))) >= 0.8
        |    THEN 1.0 ELSE 0.0 END AS y,
        |  $qualityLrXItems
        | FROM ${p}m),
        |${p}wi0 AS MATERIALIZED (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS w4)""".stripMargin)
    for (t <- 1 to QualityLrIters) {
      val grads = (0 to 4)
        .map(j => s"sum(CAST(round((p - y) * x$j * 1e9) AS BIGINT)) AS g$j")
        .mkString(", ")
      val updates = (0 to 4)
        .map(j => s"w$j - $QualityLrRate*((CAST(g$j AS DOUBLE)/1e9)/CAST(n AS DOUBLE)) AS w$j")
        .mkString(", ")
      sb.append(
        s""",
          |${p}pi$t AS (SELECT y, x0, x1, x2, x3, x4,
          |  0.5 + $qualityLrZ/(2.0*(1.0+abs($qualityLrZ))) AS p FROM ${p}fe CROSS JOIN ${p}wi${t - 1}),
          |${p}gi$t AS (SELECT $grads, count(*) AS n FROM ${p}pi$t),
          |${p}wi$t AS MATERIALIZED (SELECT $updates FROM ${p}gi$t CROSS JOIN ${p}wi${t - 1})""".stripMargin)
    }
    sb.toString.replace("\n", " ")
  }

  /** The LM MODEL's CTE chain (shared by `filter_lm_score` and
    * `pipeline_crawl_lm_gate` — both must replay the ONE model
    * [[graft.sources.Fixtures]].lmModel persists): clean-split train
    * corpus, uncapped unigram counts `uni0`, UNCAPPED total `T`, the two
    * deterministic top-2²⁰ cut tables `uni`/`big` (count desc, key asc —
    * [[graft.operators.Corpus.trainLmModel]]'s exact cut). */
  def lmModelOracleCtes: String =
    lmModelCtesFor("", "substr(md5(text),1,4) < 'f000'", "T")

  /** The PSL registrable-domain algorithm replayed in DuckDB: a SELECT over
    * `srcRel` (which must expose `domain`) that carries `keep` through and
    * appends `reg_domain`, mirroring [[graft.operators.Corpus
    * .registrableDomain]] decision-for-decision — suffix candidates via
    * list slicing, the three rule classes as list literals from the SAME
    * [[graft.sources.PslSnapshot]] seqs, exception-prevails then
    * longest-match then the implicit default rule. Probe depth =
    * `PslSnapshot.maxRuleLabels`; the operator's default 6 probes further
    * but beyond-depth probes can't match (no longer rule exists), so the
    * outputs are identical. */
  def pslRegSql(srcRel: String, keep: String): String = {
    import graft.sources.PslSnapshot
    def lst(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("[", ", ", "]")
    val K = PslSnapshot.maxRuleLabels
    val cands = (1 to K).map { k =>
      s"CASE WHEN __n >= $k THEN array_to_string(__ls[__n-${k - 1}:__n], '.') END AS __c$k"
    }.mkString(", ")
    val exc = (K to 1 by -1).map { k =>
      s"CASE WHEN __n >= $k AND list_contains(${lst(PslSnapshot.exceptions)}, __c$k) THEN ${k - 1} END"
    }.mkString(", ")
    val norm = (1 to K).map { k =>
      s"CASE WHEN __n >= $k AND list_contains(${lst(PslSnapshot.normal)}, __c$k) THEN $k ELSE 0 END"
    }.mkString(", ")
    val wild = (1 to K).map { k =>
      s"CASE WHEN __n >= ${k + 1} AND list_contains(${lst(PslSnapshot.wildcardBases)}, __c$k) THEN ${k + 1} ELSE 0 END"
    }.mkString(", ")
    s"""SELECT $keep,
       |  string_split(domain, '.') AS __ls, len(__ls) AS __n, $cands,
       |  coalesce($exc, greatest($norm, $wild, 1)) AS __ps,
       |  CASE WHEN __n > __ps THEN array_to_string(__ls[__n-__ps:__n], '.') END AS reg_domain
       |FROM $srcRel""".stripMargin.replace("\n", " ")
  }

  /**
   * CTE chain re-deriving [[graft.operators.Dedup.exactSpans]] relationally
   * on RAW token strings (the engine joins 64-bit gram hashes; extents agree
   * because combination collisions are ~n²/2⁶⁵). Defines `spans(id_a, id_b,
   * a_start, b_start, len)`; shared by the detection oracle and the cut
   * oracle so both check against ONE derivation. Same gaps-and-islands
   * identity as the engine: run matches are consecutive along the diagonal
   * pa−pb, so pa − row_number() is constant exactly within one maximal run;
   * the 1000-occurrence gram cap mirrors maxGramFreq byte-identically
   * (count of OCCURRENCES, not docs).
   */
  def exactSpansOracleCtes(
      k: Int = 8, minLen: Int = 16, maxGramFreq: Option[Int] = Some(1000),
      srcTable: String = "documents"): String = {
    val (capCtes, gramSrc) = maxGramFreq match {
      case Some(cap) =>
        (s"""ok AS (SELECT s FROM g GROUP BY s HAVING count(*) <= $cap),
            |g2 AS (SELECT g.* FROM g JOIN ok USING (s)),
            |""".stripMargin, "g2")
      case None => ("", "g")
    }
    s"""t0 AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM $srcTable),
       |g0 AS (SELECT doc_id, toks, unnest(range(1, len(toks)-${k - 2})) AS i FROM t0 WHERE len(toks) >= $k),
       |g AS (SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+${k - 1}], ' ') AS s FROM g0),
       |${capCtes}m AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, b.pos AS pb
       |  FROM $gramSrc a JOIN $gramSrc b ON a.s = b.s AND a.doc_id < b.doc_id),
       |r AS (SELECT *, pa - row_number() OVER (PARTITION BY id_a, id_b, pa - pb ORDER BY pa) AS isl FROM m),
       |spans AS (SELECT id_a, id_b, CAST(min(pa) AS BIGINT) AS a_start, CAST(min(pb) AS BIGINT) AS b_start,
       |  CAST(max(pa) - min(pa) + $k AS BIGINT) AS len
       |  FROM r GROUP BY id_a, id_b, pa - pb, isl
       |  HAVING max(pa) - min(pa) + $k >= $minLen)""".stripMargin.replace("\n", " ")
  }
}
