"""DuckDB oracle SQL for the training-data operators.

Each function returns {query_name: ANSI-ish SQL} over the same parquet
inputs the Spark queries read. These are *independent re-derivations*
(DuckDB list comprehensions / window functions), not golden files —
the only shared convention is the engine-portable h60 hash
(functions/hashing.py): Spark ``conv(substr(md5(x),1,15),16,10)`` ==
DuckDB ``CAST(('0x'||substr(md5(x),1,15)) AS BIGINT)``.

Dialect notes baked in here:
- DuckDB ``regexp_replace`` needs the ``'g'`` flag (Spark is global);
- DuckDB ``list_reduce`` has no init value → ``list_prepend(0, ...)``;
- empty list literals need an explicit cast;
- whitespace is the EXPLICIT class ``[ \\t\\n\\v\\f\\r]`` everywhere,
  never ``\\s``: Java's ``\\s`` (the Spark side) includes vertical tab
  while RE2's does not, so a ``\\x0B`` in a document would silently
  normalize differently on the two engines.
"""

from __future__ import annotations

from transner_spark.operators.dedup import (
    COSINE_THRESHOLD,
    MINHASH_P,
    MINHASH_PARAMS,
    JACCARD_THRESHOLD,
    LSH_BANDS,
    N_MINHASH,
    NGRAM_JACCARD_THRESHOLD,
    SIMHASH_BITS,
    SIMHASH_CHUNKS,
    SIMHASH_HAMMING_MAX,
)
from transner_spark.operators.textops import (
    BPE_PATTERN,
    FINGERPRINT_K,
    LANG_MARKERS,
    PUNCT_PATTERN,
    STOPWORDS,
)

H60 = "CAST(('0x' || substr(md5({e}), 1, 15)) AS BIGINT)"


def _h60(e: str) -> str:
    return H60.format(e=e)


def _in_list(words) -> str:
    return "(" + ", ".join(f"'{w}'" for w in words) + ")"


# node types that are their own canonical ids (spelled out here, not
# imported, so the oracle stays independent of the kernel)
_STRUCTURAL = "('AGENT', 'TOOL')"

_TOKS = (
    "CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) "
    "ELSE regexp_split_to_array(trim(text), '[ \\t\\n\\v\\f\\r]+') END"
)


def textops_oracles(docs: str) -> dict[str, str]:
    langs = sorted(LANG_MARKERS)
    count_cols = ",\n  ".join(
        f"len(list_filter(toks, t -> t IN {_in_list(LANG_MARKERS[lg])})) AS c_{lg}"
        for lg in langs
    )
    greatest = "greatest(" + ", ".join(f"c_{lg}" for lg in langs) + ")"
    pred_case = "CASE WHEN best = 0 THEN 'und' " + " ".join(
        f"WHEN c_{lg} = best THEN '{lg}'" for lg in langs
    ) + " END"
    k = FINGERPRINT_K
    quality_sql = f"""round(
    least(1.0, len(toks) / 50.0)
    * (1.0 - least(1.0,
        len(regexp_extract_all(text, '{PUNCT_PATTERN}'))
        / greatest(len(regexp_extract_all(text, '{BPE_PATTERN}')), 1)))
    * (0.5 + 0.5 * least(1.0,
        (len(list_filter(toks, t -> lower(t) IN {_in_list(STOPWORDS)}))
         / greatest(len(toks), 1)) * 5.0)),
    6)"""
    norm_hash = _h60("lower(regexp_replace(trim(text), '[ \\t\\n\\v\\f\\r]+', ' ', 'g'))")
    from transner_spark.operators.textops import (
        DRIFT_TOPK,
        KEYWORDS_K,
        VOCAB_GATE_K,
    )

    q_expr = "((c_new + 1.0) / (n_new + v))"
    p_expr = "((c_old + 1.0) / (n_old + v))"
    return {
        # drift monitor over the md5-split halves: add-1-smoothed
        # KL(new||old) per token, double-round-snapped before the
        # (kl desc, token asc) top-k ordering
        "token_drift": f"""
WITH od AS (SELECT * FROM read_parquet('{docs}')
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'),
nd AS (SELECT * FROM read_parquet('{docs}')
       WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= '8'),
co AS (SELECT token, CAST(count(*) AS BIGINT) AS c_old
       FROM (SELECT unnest({_TOKS}) AS token FROM od) GROUP BY token),
cn AS (SELECT token, CAST(count(*) AS BIGINT) AS c_new
       FROM (SELECT unnest({_TOKS}) AS token FROM nd) GROUP BY token),
vv AS (SELECT coalesce(co.token, cn.token) AS token,
              coalesce(c_old, 0) AS c_old, coalesce(c_new, 0) AS c_new
       FROM co FULL JOIN cn ON co.token = cn.token),
sc AS (SELECT sum(c_old) AS n_old, sum(c_new) AS n_new, count(*) AS v
       FROM vv)
SELECT token, c_old, c_new,
       round(round({q_expr} * ln({q_expr} / {p_expr}), 9), 6) AS kl_term
FROM vv CROSS JOIN sc
ORDER BY kl_term DESC, token
LIMIT {DRIFT_TOPK}
""",
        # smooth-idf TF-IDF with the double-round snap applied BEFORE
        # ranking on both engines (ln is transcendental); ties at the
        # per-doc top-k boundary break by term asc
        "tfidf_keywords": f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM read_parquet('{docs}')
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term
), dft AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
), nn AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM read_parquet('{docs}')
), s AS (
  SELECT doc_id, tf.term, tf.tf, dft.df,
         round(round(tf.tf * (ln((nn.n_docs + 1.0) / (dft.df + 1.0))
                              + 1.0), 9), 6) AS score
  FROM tf JOIN dft USING (term) CROSS JOIN nn
)
SELECT doc_id, term, tf, df, score, CAST(rn AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term) AS rn
  FROM s
)
WHERE rn <= {KEYWORDS_K}
""",
        # deterministic-tiebreak top-k token census (ORDER BY freq DESC,
        # token makes the k-boundary cut a total order in both engines);
        # gated at VOCAB_GATE_K < the sf0.01 vocabulary size so the
        # boundary cut itself is driver-verified
        "vocab_topk": f"""
SELECT token, CAST(count(*) AS BIGINT) AS freq
FROM (
  SELECT unnest({_TOKS}) AS token FROM read_parquet('{docs}')
)
GROUP BY token
ORDER BY freq DESC, token
LIMIT {VOCAB_GATE_K}
""",
        # composed curation decision: quality + langID + exact-dup keeper
        "corpus_filter": f"""
WITH t AS (
  SELECT doc_id, text, {_TOKS} AS toks FROM read_parquet('{docs}')
), q AS (
  SELECT doc_id, text, toks, {quality_sql} AS quality_score FROM t
), lc AS (
  SELECT doc_id, quality_score,
  {count_cols.replace('toks', 'ltoks')}
  FROM (SELECT doc_id, quality_score,
               [lower(x) for x in toks] AS ltoks FROM q)
), lp AS (
  SELECT doc_id, quality_score, {pred_case} AS lang_pred
  FROM (SELECT *, {greatest} AS best FROM lc)
), kk AS (
  SELECT doc_id, row_number() OVER (
    PARTITION BY {norm_hash} ORDER BY doc_id) = 1 AS not_dup
  FROM read_parquet('{docs}')
)
SELECT doc_id, quality_score, lang_pred,
       quality_score >= 0.3 AS quality_ok,
       lang_pred <> 'und' AS lang_ok,
       not_dup,
       (quality_score >= 0.3 AND lang_pred <> 'und' AND not_dup) AS keep_doc
FROM lp JOIN kk USING (doc_id)
""",
        "text_stats": f"""
WITH t AS (
  SELECT doc_id, text, {_TOKS} AS toks
  FROM read_parquet('{docs}')
)
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(toks) AS BIGINT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
  CAST(len(regexp_extract_all(text, '{PUNCT_PATTERN}')) AS BIGINT) AS n_punct,
  CAST(len(list_filter(toks, t -> lower(t) IN {_in_list(STOPWORDS)})) AS BIGINT)
      AS n_stopwords,
  list_reduce(list_prepend(CAST(0 AS BIGINT),
      [CAST(length(x) AS BIGINT) for x in toks]), (a, b) -> a + b)
      AS sum_token_chars,
  round(
    least(1.0, len(toks) / 50.0)
    * (1.0 - least(1.0,
        len(regexp_extract_all(text, '{PUNCT_PATTERN}'))
        / greatest(len(regexp_extract_all(text, '{BPE_PATTERN}')), 1)))
    * (0.5 + 0.5 * least(1.0,
        (len(list_filter(toks, t -> lower(t) IN {_in_list(STOPWORDS)}))
         / greatest(len(toks), 1)) * 5.0)),
    6) AS quality_score
FROM t
""",
        "lang_id": f"""
WITH t AS (
  SELECT doc_id, lang AS lang_declared,
         [lower(x) for x in {_TOKS}] AS toks
  FROM read_parquet('{docs}')
), c AS (
  SELECT doc_id, lang_declared,
  {count_cols}
  FROM t
), b AS (
  SELECT *, {greatest} AS best FROM c
)
SELECT doc_id, lang_declared, {pred_case} AS lang_pred,
       CAST(best AS BIGINT) AS marker_hits
FROM b
""",
        "doc_fingerprint": f"""
WITH n AS (
  SELECT doc_id, lower(regexp_replace(trim(text), '[ \\t\\n\\v\\f\\r]+', ' ', 'g')) AS nt
  FROM read_parquet('{docs}')
), s AS (
  SELECT doc_id,
    CASE WHEN length(nt) < {k} THEN [nt]
         ELSE list_distinct([substr(nt, i, {k})
                             for i in range(1, length(nt) - {k - 2})]) END AS sh
  FROM n
)
SELECT doc_id,
  CAST(len(sh) AS BIGINT) AS n_shingles,
  list_min([{_h60('x')} for x in sh]) AS fp_min,
  list_min([{_h60("('1:' || x)")} for x in sh]) AS fp_alt
FROM s
""",
    }


def _shingle_cte(docs: str, n: int) -> str:
    """CTEs t(toks) + s(sh): distinct word n-gram shingles per doc."""
    return f"""
t AS (
  SELECT doc_id, text, lang, {_TOKS} AS toks FROM read_parquet('{docs}')
), s AS (
  SELECT doc_id, lang, toks,
    CASE WHEN len(toks) < {n} THEN [array_to_string(toks, ' ')]
         ELSE list_distinct([array_to_string(toks[i:i+{n - 1}], ' ')
                             for i in range(1, len(toks) - {n - 2})]) END AS sh
  FROM t
)"""


_JACCARD = (
    "len(list_filter(a.sh, x -> list_contains(b.sh, x))) "
    "/ (len(a.sh) + len(b.sh) "
    "- len(list_filter(a.sh, x -> list_contains(b.sh, x))))"
)


def dedup_oracles(docs: str, emb: str) -> dict[str, str]:
    rows = N_MINHASH // LSH_BANDS
    dot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "[CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE) "
        "for i in range(1, len({x}) + 1)]), (acc, v) -> acc + v)"
    )
    norm_text = _h60("lower(regexp_replace(trim(text), '[ \\t\\n\\v\\f\\r]+', ' ', 'g'))")
    minhash_pairs = f"""{_shingle_cte(docs, 3)}, hs AS (
  SELECT doc_id, sh,
    [CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT) for x in sh] AS h32s
  FROM s
), sigs AS (
  SELECT doc_id, sh,
    [{", ".join(f"list_min([({a} * h + {b}) % {MINHASH_P} for h in h32s])" for a, b in MINHASH_PARAMS)}] AS sig
  FROM hs
), bands AS (
  SELECT doc_id, r.b AS band_idx,
    {_h60(f"array_to_string(sig[r.b * {rows} + 1 : r.b * {rows} + {rows}], ',')")}
      AS band_key
  FROM sigs, range({LSH_BANDS}) r(b)
), cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y
    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
   AND x.doc_id < y.doc_id
)"""
    from transner_spark.operators.dedup import SUBSTR_K

    return {
        "dedup_exact": f"""
SELECT doc_id,
  {norm_text} AS text_hash,
  row_number() OVER (
    PARTITION BY {norm_text}
    ORDER BY doc_id) = 1 AS keep
FROM read_parquet('{docs}')
""",
        # exact substring-overlap pairs: the window set is re-derived
        # with a lateral range + substr (independent of Spark's
        # higher-order transform), joined on the substring VALUE — the
        # same no-collision-verify-needed property as the Spark side
        "dedup_substring": f"""
WITH d AS (
  SELECT doc_id,
         lower(regexp_replace(trim(text), '[ \\t\\n\\v\\f\\r]+', ' ', 'g')) AS nt
  FROM read_parquet('{docs}')
), w AS (
  SELECT DISTINCT doc_id,
    unnest([substr(nt, CAST(i AS INT), {SUBSTR_K})
            for i in range(1, length(nt) - {SUBSTR_K} + 2)]) AS win
  FROM d WHERE length(nt) >= {SUBSTR_K}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared_windows
FROM w a JOIN w b ON a.win = b.win AND a.doc_id < b.doc_id
GROUP BY 1, 2
""",
        "dedup_minhash_lsh": f"""
WITH {minhash_pairs}
SELECT doc_a, doc_b, round({_JACCARD}, 6) AS jaccard
FROM cand JOIN s a ON a.doc_id = doc_a JOIN s b ON b.doc_id = doc_b
WHERE {_JACCARD} >= {JACCARD_THRESHOLD}
""",
        # cluster-level dedup: verified pairs → recursive-CTE connected
        # components (an independent re-derivation of the iterative CC
        # operator) → keeper = min doc_id per cluster
        "dedup_clusters": f"""
WITH RECURSIVE {minhash_pairs},
p AS (
  SELECT doc_a, doc_b
  FROM cand JOIN s a ON a.doc_id = doc_a JOIN s b ON b.doc_id = doc_b
  WHERE {_JACCARD} >= {JACCARD_THRESHOLD}
),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM p
  UNION
  SELECT doc_b, doc_a FROM p
  UNION
  SELECT doc_id, doc_id FROM read_parquet('{docs}')
),
cc AS (
  SELECT src AS node_id, src AS label FROM sym
  UNION
  SELECT e.dst AS node_id, c.label
  FROM cc c JOIN sym e ON e.src = c.node_id
)
SELECT CAST(node_id AS BIGINT) AS doc_id,
       CAST(min(label) AS BIGINT) AS cluster_id,
       min(label) = node_id AS keep
FROM cc GROUP BY node_id
""",
        "dedup_simhash": f"""
WITH {_shingle_cte(docs, 2)}, h AS (
  SELECT doc_id, [{_h60('x')} for x in sh] AS th FROM s
), sim AS (
  SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
    [CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
          [((hh >> j) & 1) * 2 - 1 for hh in th]), (a, b) -> a + b) >= 0
     THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
     for j in range(0, {SIMHASH_BITS})]),
    (a, b) -> a * 2 + b) AS simhash
  FROM h
), chunks AS (
  SELECT doc_id, simhash, r.c AS chunk_idx,
         (simhash >> (12 * r.c)) & 4095 AS chunk_key
  FROM sim, range({SIMHASH_CHUNKS}) r(c)
), pairs AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         bit_count(xor(x.simhash, y.simhash)) AS hamming
  FROM chunks x JOIN chunks y
    ON x.chunk_idx = y.chunk_idx AND x.chunk_key = y.chunk_key
   AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
FROM pairs WHERE hamming <= {SIMHASH_HAMMING_MAX}
""",
        "dedup_ngram_jaccard": f"""
WITH {_shingle_cte(docs, 2)}, blocked AS (
  SELECT doc_id, lang, CAST(floor(len(toks) / 20) AS BIGINT) AS lb, sh
  FROM s
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, round({_JACCARD}, 6) AS jaccard
FROM blocked a JOIN blocked b
  ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
WHERE {_JACCARD} >= {NGRAM_JACCARD_THRESHOLD}
""",
        "dedup_embedding_cosine": f"""
WITH e0 AS (
  SELECT vec_id, label, embedding AS emb FROM read_parquet('{emb}')
), e AS (
  SELECT vec_id, label, emb,
         sqrt({dot.format(x='emb', y='emb')}) AS nrm
  FROM e0
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
  round({dot.format(x='a.emb', y='b.emb')} / (a.nrm * b.nrm), 6) AS cosine
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {dot.format(x='a.emb', y='b.emb')} / (a.nrm * b.nrm)
      >= {COSINE_THRESHOLD}
""",
    }


def simsearch_oracles(emb: str) -> dict[str, str]:
    from transner_spark.operators.simsearch import (
        DIM,
        IVF_CELLS,
        IVF_NPROBE,
        N_QUERIES,
        N_TABLES,
        PLANES_PER_TABLE,
        TOP_K,
    )

    dot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "[CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE) "
        "for i in range(1, len({x}) + 1)]), (acc, v) -> acc + v)"
    )
    w_pd = (
        "((" + _h60("('plane:' || p || ',' || d)") + " % 2001 - 1000) / 1000.0)"
    )
    # dim read from the data (len(emb)); the Spark side uses the config
    # dim with an in-plan mismatch guard (lsh_buckets), so on guarded
    # data both sides agree — reading len(emb) here keeps the oracle
    # free of the config constant.
    plane_dot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"[CAST(emb[d + 1] AS DOUBLE) * {w_pd} for d in range(0, len(emb))]), "
        "(acc, v) -> acc + v)"
    )
    bucket = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"[CASE WHEN {plane_dot} >= 0 THEN CAST(1 AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END "
        f"for p in range(r.t * {PLANES_PER_TABLE}, "
        f"(r.t + 1) * {PLANES_PER_TABLE})]), (a, b) -> a * 2 + b)"
    )
    norms = f"""
e AS (
  SELECT vec_id, embedding AS emb FROM read_parquet('{emb}')
), n AS (
  SELECT vec_id, emb, sqrt({dot.format(x='emb', y='emb')}) AS nrm FROM e
)"""
    rank_tail = f"""
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
       round(cosine, 6) AS cosine
FROM r WHERE rank <= {TOP_K}"""
    from transner_spark.operators.dedup import COSINE_THRESHOLD

    return {
        "dedup_embedding_cosine_lsh": f"""
WITH {norms}, b AS (
  SELECT vec_id, r.t AS table_id, {bucket} AS bucket
  FROM e, range({N_TABLES}) r(t)
), cand AS (
  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM b x JOIN b y
    ON x.table_id = y.table_id AND x.bucket = y.bucket
   AND x.vec_id < y.vec_id
)
SELECT vec_a, vec_b,
  round({dot.format(x='a.emb', y='c.emb')} / (a.nrm * c.nrm), 6) AS cosine
FROM cand
JOIN n a ON a.vec_id = cand.vec_a
JOIN n c ON c.vec_id = cand.vec_b
WHERE {dot.format(x='a.emb', y='c.emb')} / (a.nrm * c.nrm)
      >= {COSINE_THRESHOLD}
""",
        "ann_bruteforce": f"""
WITH {norms}, p AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    {dot.format(x='q.emb', y='c.emb')} / (q.nrm * c.nrm) AS cosine
  FROM n q, n c WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM p
)
{rank_tail}
""",
        "ann_ivf": f"""
WITH {norms}, cents AS (
  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cell_id,
         emb AS c_emb, nrm AS c_nrm
  FROM (SELECT vec_id, emb, nrm, {_h60("('ivf:' || vec_id)")} AS h
        FROM n WHERE vec_id >= {N_QUERIES}
        ORDER BY h, vec_id LIMIT {IVF_CELLS})
), assign AS (
  SELECT vec_id, cell_id FROM (
    SELECT x.vec_id, c.cell_id,
           row_number() OVER (PARTITION BY x.vec_id
             ORDER BY {dot.format(x='x.emb', y='c.c_emb')} / (x.nrm * c.c_nrm) DESC,
                      c.cell_id ASC) AS rn
    FROM n x, cents c WHERE x.vec_id >= {N_QUERIES})
  WHERE rn = 1
), probe AS (
  SELECT vec_id AS query_id, cell_id FROM (
    SELECT x.vec_id, c.cell_id,
           row_number() OVER (PARTITION BY x.vec_id
             ORDER BY {dot.format(x='x.emb', y='c.c_emb')} / (x.nrm * c.c_nrm) DESC,
                      c.cell_id ASC) AS rn
    FROM n x, cents c WHERE x.vec_id < {N_QUERIES})
  WHERE rn <= {IVF_NPROBE}
), cand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM probe p JOIN assign a USING (cell_id)
), p AS (
  SELECT query_id, neighbor_id,
         {dot.format(x='q.emb', y='c.emb')} / (q.nrm * c.nrm) AS cosine
  FROM cand
  JOIN n q ON q.vec_id = cand.query_id
  JOIN n c ON c.vec_id = cand.neighbor_id
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM p
)
{rank_tail}
""",
        "ann_lsh": f"""
WITH {norms}, b AS (
  SELECT vec_id, r.t AS table_id, {bucket} AS bucket
  FROM e, range({N_TABLES}) r(t)
), cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
  FROM b qb JOIN b cb
    ON qb.table_id = cb.table_id AND qb.bucket = cb.bucket
  WHERE qb.vec_id < {N_QUERIES} AND cb.vec_id >= {N_QUERIES}
), p AS (
  SELECT cand.query_id, cand.neighbor_id,
    {dot.format(x='q.emb', y='c.emb')} / (q.nrm * c.nrm) AS cosine
  FROM cand
  JOIN n q ON q.vec_id = cand.query_id
  JOIN n c ON c.vec_id = cand.neighbor_id
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM p
)
{rank_tail}
""",
    }


def ann_recall_oracle(emb: str, method: str = "lsh") -> dict[str, str]:
    """Recall@k as a composition of the existing exact and approximate
    oracle derivations (each wrapped as a subquery)."""
    o = simsearch_oracles(emb)
    approx_sql = o["ann_lsh"] if method == "lsh" else o["ann_ivf"]
    exact_sql = o["ann_bruteforce"]
    return {
        f"ann_recall_{method}": f"""
SELECT e.query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
       round(count(a.neighbor_id) / count(*), 6) AS recall
FROM ({exact_sql}) e
LEFT JOIN ({approx_sql}) a
  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""
    }


def graf_oracle(
    regions: str, sents: str, pos: str, ners: str, conf_threshold: float = 0.75
) -> dict[str, str]:
    """Independent re-derivation of the GrAF merge + CoNLL annotation
    (operators/graf.py) from the element-level parquet twins, which the
    generator renders separately from the XML files the Spark side
    parses — so the gate cross-checks parse AND merge. Semantics follow
    graf_merger.do_merge/annotation.annotate: label=='s' filter,
    linkless-annotation drop (inner region join), duplicate-sent_start
    overwrite (max_by seq) with first-occurrence position (min seq),
    first-containing-sentence token assignment, duplicate-ref NER
    overwrite, conf filter, containment multi-emission, and a blank line
    after every sentence-final emission."""
    return {
        "graf_merge": f"""
WITH r AS (SELECT * FROM read_parquet('{regions}')),
s1 AS (
  SELECT s.doc_id, r.start AS sent_start,
         max_by(r."end", s.seq) AS sent_end, min(s.seq) AS spos
  FROM read_parquet('{sents}') s
  JOIN r ON r.doc_id = s.doc_id AND r.region_id = s.region_id
  WHERE s.label = 's'
  GROUP BY s.doc_id, r.start
),
tr AS (
  SELECT p.doc_id, p.seq, p.word, p.sent_ord, r.start AS tstart,
         r."end" AS tend
  FROM read_parquet('{pos}') p
  JOIN r ON r.doc_id = p.doc_id AND r.region_id = p.region_id
),
ts AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id, seq ORDER BY spos) AS rn
  FROM (
    SELECT t.*, s.sent_start, s.sent_end, s.spos
    FROM tr t JOIN s1 s ON s.doc_id = t.doc_id
     AND t.tstart >= s.sent_start AND t.tend <= s.sent_end)
),
t2 AS (
  SELECT doc_id, sent_start, sent_ord,
         max_by(word, seq) AS word, max_by(tstart, seq) AS tstart,
         max_by(tend, seq) AS tend, max_by(sent_end, seq) AS sent_end
  FROM ts WHERE rn = 1
  GROUP BY doc_id, sent_start, sent_ord
),
nr AS (
  SELECT n.doc_id,
         max_by(r.start, n.seq) AS ner_start,
         max_by(r."end", n.seq) AS ner_end,
         max_by(n.label, n.seq) AS ner_label,
         max_by(n.conf, n.seq) AS conf,
         min(n.seq) AS npos
  FROM read_parquet('{ners}') n
  JOIN r ON r.doc_id = n.doc_id AND r.region_id = n.region_id
  GROUP BY n.doc_id, n.ref
),
kept AS (SELECT * FROM nr WHERE CAST(conf AS DOUBLE) >= {conf_threshold}),
m AS (
  SELECT t.doc_id, t.sent_start, t.sent_ord,
         CASE WHEN k.ner_label IS NOT NULL
              THEN t.word || chr(9) || k.ner_label
              ELSE t.word || chr(9) || 'O' END AS base_line,
         t.tend, t.sent_end, k.ner_start, k.npos
  FROM t2 t LEFT JOIN kept k
    ON k.doc_id = t.doc_id
   AND t.tstart >= k.ner_start AND t.tend <= k.ner_end
),
e AS (
  SELECT doc_id, sent_start, sent_ord, ner_start, npos,
         unnest([{{'eidx': i, 'line': arr[i]}}
                 for i in range(1, len(arr) + 1)]) AS u
  FROM (
    SELECT *, CASE WHEN tend = sent_end
                   THEN [base_line, ''] ELSE [base_line] END AS arr
    FROM m)
)
SELECT doc_id,
       CAST(row_number() OVER (
         PARTITION BY doc_id
         ORDER BY sent_start, CAST(sent_ord AS INT),
                  ner_start ASC NULLS FIRST, npos ASC NULLS FIRST,
                  u.eidx) - 1 AS BIGINT) AS out_idx,
       u.line AS line
FROM e
"""
    }


def kmeans_oracle(emb: str, iters: int = 2) -> dict[str, str]:
    """Fixed-iteration unroll of ``kmeans_refine``'s Lloyd loop (VERDICT
    r2 item 2 — the one gate row that lacked a value oracle): round i
    assigns every corpus vector to its max-cosine centroid of round i-1
    (ties → lower cell_id); the centroid update is the per-cell
    element-wise mean, empty cells keeping their previous centroid. The
    Spark operator loops on the driver; the oracle unrolls the same
    ``iters`` rounds as chained CTEs, so the returned assignment (round
    ``iters``, scored against the round-``iters-1`` centroids) is
    value-checked, not just row-counted. Float-cast discipline mirrors
    the operator: raw float embeddings are widened per element before
    any arithmetic, dot products sum in index order, and the centroid
    mean uses the same deterministic hierarchical summation (vec_id-
    ordered blocks of KMEANS_SUM_BLOCK, block sums added in block order)
    so both engines add doubles in the identical order."""
    from transner_spark.operators.simsearch import (
        IVF_CELLS,
        KMEANS_SUM_BLOCK,
        N_QUERIES,
    )

    dot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "[CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE) "
        "for i in range(1, len({x}) + 1)]), (acc, v) -> acc + v)"
    )
    ctes = [
        f"""e AS (SELECT vec_id, embedding AS emb FROM read_parquet('{emb}')),
n AS (
  SELECT vec_id, emb, sqrt({dot.format(x='emb', y='emb')}) AS nrm
  FROM e WHERE vec_id >= {N_QUERIES}
),
cents0 AS (
  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cell_id,
         CAST(emb AS DOUBLE[]) AS c_emb, nrm AS c_nrm
  FROM (SELECT vec_id, emb, nrm, {_h60("('ivf:' || vec_id)")} AS h
        FROM n ORDER BY h, vec_id LIMIT {IVF_CELLS})
)"""
    ]
    for i in range(1, iters + 1):
        ctes.append(f"""assign{i} AS (
  SELECT vec_id, cell_id FROM (
    SELECT x.vec_id, c.cell_id,
           row_number() OVER (PARTITION BY x.vec_id
             ORDER BY {dot.format(x='x.emb', y='c.c_emb')} / (x.nrm * c.c_nrm) DESC,
                      c.cell_id ASC) AS rn
    FROM n x, cents{i - 1} c)
  WHERE rn = 1
)""")
        if i == iters:
            break  # the returned assignment needs no further update
        ctes.append(f"""mem{i} AS (
  SELECT a.cell_id, x.vec_id,
         unnest([{{'p': p, 'v': CAST(x.emb[p] AS DOUBLE)}}
                 for p in range(1, len(x.emb) + 1)]) AS u
  FROM assign{i} a JOIN n x USING (vec_id)
),
blk{i} AS (
  SELECT cell_id, u.p AS pos, vec_id // {KMEANS_SUM_BLOCK} AS blk,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(u.v ORDER BY vec_id)),
                     (acc, v) -> acc + v) AS bsum,
         count(*) AS bcnt
  FROM mem{i}
  GROUP BY cell_id, u.p, vec_id // {KMEANS_SUM_BLOCK}
),
newc{i} AS (
  SELECT cell_id, list(m ORDER BY pos) AS c_emb FROM (
    SELECT cell_id, pos,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                    list(bsum ORDER BY blk)),
                       (acc, v) -> acc + v) / sum(bcnt) AS m
    FROM blk{i} GROUP BY cell_id, pos)
  GROUP BY cell_id
),
cents{i} AS (
  SELECT cell_id, c_emb, sqrt({dot.format(x='c_emb', y='c_emb')}) AS c_nrm
  FROM (SELECT c0.cell_id, coalesce(nc.c_emb, c0.c_emb) AS c_emb
        FROM cents{i - 1} c0 LEFT JOIN newc{i} nc USING (cell_id))
)""")
    body = ",\n".join(ctes)
    return {
        "kmeans_cells": f"""
WITH {body}
SELECT vec_id, CAST(cell_id AS BIGINT) AS cell_id FROM assign{iters}
"""
    }


def relational_oracles(
    docs: str, keys: str, mentions_src: str, cache: str
) -> dict[str, str]:
    """``mentions_src`` is FROM-able — since round 3 the gate passes the
    independent SQL mentions derivation (oracles_ner.kg_mentions_sql)
    instead of the golden parquet, making the overlap gate golden-free."""
    from transner_spark.operators.relational import IOB_TYPES, REGION_CHARS

    tag_h = _h60("('tag:' || x)")
    tag_case = "CASE " + " ".join(
        f"WHEN {tag_h} % 5 = {i} THEN 'I-{ty}'"
        for i, ty in enumerate(IOB_TYPES)
    ) + " ELSE 'O' END"
    split_h = _h60("('split:' || doc_id)")
    split_case = (
        f"CASE WHEN {split_h} % 20 < 14 THEN 'train' "
        f"WHEN {split_h} % 20 < 17 THEN 'val' ELSE 'test' END"
    )
    r = REGION_CHARS
    return {
        "corpus_stats": f"""
WITH t AS (
  SELECT doc_id, lang, {_TOKS} AS toks FROM read_parquet('{docs}')
), d AS (
  SELECT lang, count(*) AS n_docs, sum(len(toks)) AS sum_tokens
  FROM t GROUP BY lang
), w AS (
  SELECT lang, count(DISTINCT word) AS n_distinct_words
  FROM (SELECT lang, unnest(toks) AS word FROM t) GROUP BY lang
)
SELECT d.lang, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_distinct_words AS BIGINT) AS n_distinct_words,
       CAST(sum_tokens AS BIGINT) AS sum_tokens,
       round(sum_tokens / n_docs, 6) AS avg_tokens
FROM d JOIN w USING (lang)
""",
        "iob_to_bio": f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM read_parquet('{docs}')
), g AS (
  SELECT doc_id, [{tag_case} for x in toks] AS tags FROM t
), p AS (
  SELECT doc_id, tags, list_prepend('O', tags) AS padded FROM g
)
SELECT doc_id, array_to_string(tags, ' ') AS iob,
  array_to_string(
    [CASE WHEN padded[i + 1] != 'O'
           AND (padded[i] = 'O'
                OR substr(padded[i], 3, 10) != substr(padded[i + 1], 3, 10))
          THEN 'B-' || substr(padded[i + 1], 3, 10)
          ELSE padded[i + 1] END
     for i in range(1, len(tags) + 1)], ' ') AS bio
FROM p WHERE array_to_string(tags, ' ') != ''
""",
        "split_train_val_test": f"""
SELECT {split_case} AS split, CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM read_parquet('{docs}')
GROUP BY 1
""",
        "region_containment": f"""
WITH t0 AS (
  SELECT doc_id, trim(regexp_replace(trim(text), '[ \\t\\n\\v\\f\\r]+', ' ', 'g')) AS text
  FROM read_parquet('{docs}')
), t AS (
  SELECT doc_id, {_TOKS} AS toks FROM t0
), idx AS (
  SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t
), s AS (
  -- coalesce: DuckDB's column-bounded slice [1:0] yields NULL, not []
  SELECT doc_id,
    (i - 1) + coalesce(length(array_to_string(toks[1:i - 1], '')), 0)
        AS t_start,
    (i - 1) + coalesce(length(array_to_string(toks[1:i - 1], '')), 0)
        + length(toks[i]) AS t_end
  FROM idx
), assigned AS (
  SELECT doc_id, CAST(floor(t_start / {r}) AS BIGINT) AS region_id,
         t_start, t_end
  FROM s
  WHERE t_end <= (floor(t_start / {r}) + 1) * {r}
)
SELECT doc_id, region_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(t_end - t_start) AS BIGINT) AS sum_token_chars
FROM assigned GROUP BY doc_id, region_id
""",
        "substring_antijoin": f"""
WITH k AS (SELECT key FROM read_parquet('{keys}'))
SELECT key FROM k
WHERE key NOT IN (
  SELECT a.key FROM k a JOIN k b
    ON a.key != b.key
   AND strpos(' ' || b.key || ' ', ' ' || a.key || ' ') > 0
)
""",
        "mention_overlap_pairs": f"""
WITH g AS (SELECT * FROM {mentions_src})
SELECT a.conv_id, CAST(a.turn_idx AS BIGINT) AS turn_idx,
       CAST(a.mention_id AS BIGINT) AS a_id,
       CAST(b.mention_id AS BIGINT) AS b_id,
       a.type AS a_type, b.type AS b_type
FROM g a JOIN g b
  ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
 AND a.mention_id < b.mention_id
 AND NOT (a."offset" + length(a.value) < b."offset"
          OR b."offset" + length(b.value) < a."offset")
""",
        "role_transitions": f"""
WITH x AS (
  SELECT coalesce(
           lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx),
           '_START_') AS prev_role,
         role
  FROM read_parquet('{cache}')
)
SELECT prev_role, role, CAST(count(*) AS BIGINT) AS n
FROM x GROUP BY prev_role, role
""",
    }


def events_oracles(events: str) -> dict[str, str]:
    return {
        "sessionize_events": f"""
WITH w AS (
  SELECT user_id, event_id, ts, event_type, value,
    CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
          OR CAST(floor(epoch(ts)) AS BIGINT)
             - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) > 1800
         THEN 1 ELSE 0 END AS is_start
  FROM read_parquet('{events}')
), s AS (
  SELECT *, sum(is_start) OVER
      (PARTITION BY user_id ORDER BY ts, event_id) AS session_idx
  FROM w
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(floor(epoch(max(ts))) AS BIGINT)
    - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_s,
  round(sum(value), 6) AS sum_value,
  CAST(count(DISTINCT event_type) AS BIGINT) AS n_event_types
FROM s GROUP BY user_id, session_idx
""",
    }


def multimodal_oracles(docs: str) -> dict[str, str]:
    from transner_spark.operators.multimodal import FRAME_BYTES, FRAME_STRIDE

    hx = "repeat(md5(text), CAST(doc_id % 4 + 1 AS INT))"
    byte = "CAST(('0x' || substr(hx, 2 * i + 1, 2)) AS BIGINT)"
    fb, fs = FRAME_BYTES, FRAME_STRIDE
    return {
        "mm_frames": f"""
WITH a AS (
  SELECT doc_id AS asset_id, {hx} AS hx
  FROM read_parquet('{docs}') WHERE doc_id % 3 = 2
), f AS (
  SELECT asset_id, hx,
         unnest(range(0, length(hx) // {2 * fb}, {fs})) AS frame_idx
  FROM a
)
SELECT asset_id, CAST(frame_idx AS BIGINT) AS frame_idx,
  CAST(frame_idx * {fb} AS BIGINT) AS frame_off,
  CAST({fb} AS BIGINT) AS frame_len,
  list_reduce(list_prepend(CAST(0 AS BIGINT),
    [CAST(('0x' || substr(hx, 2 * (frame_idx * {fb} + i) + 1, 2)) AS BIGINT)
     for i in range(0, {fb})]), (x, y) -> x + y) AS frame_sum
FROM f
""",
        "mm_metadata": f"""
SELECT doc_id AS asset_id,
  (['image', 'audio', 'video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
  CAST(length({hx}) / 2 AS BIGINT) AS n_bytes,
  CAST({_h60('text')} % 240 + 16 AS BIGINT) AS width,
  CAST({_h60("('h:' || text)")} % 240 + 16 AS BIGINT) AS height
FROM read_parquet('{docs}')
""",
        "mm_features": f"""
WITH a AS (
  SELECT doc_id AS asset_id, {hx} AS hx FROM read_parquet('{docs}')
), b AS (
  SELECT asset_id,
    [{byte} for i in range(0, CAST(length(hx) / 2 AS BIGINT))] AS bytes
  FROM a
)
SELECT asset_id,
  CAST(len(bytes) AS BIGINT) AS n_bytes,
  list_reduce(list_prepend(CAST(0 AS BIGINT), bytes), (x, y) -> x + y)
    AS sum_bytes,
  CAST(len(list_filter(bytes, v -> (v >> 6) = 0)) AS BIGINT) AS h0,
  CAST(len(list_filter(bytes, v -> (v >> 6) = 1)) AS BIGINT) AS h1,
  CAST(len(list_filter(bytes, v -> (v >> 6) = 2)) AS BIGINT) AS h2,
  CAST(len(list_filter(bytes, v -> (v >> 6) = 3)) AS BIGINT) AS h3
FROM b
""",
        # real-decoder gate: the Spark path round-trips doc_id-derived
        # sample/pixel values through REAL WAV/PPM writers and parsers
        # (operators/multimodal.py encode_wav/decode_wav,
        # encode_ppm/decode_ppm/_stream); this oracle re-derives the
        # DECODED bytes analytically from the same closed-form spec
        # (affine mod 256 in doc_id) — no codec on the DuckDB side, so a
        # header-walk/padding/boundary bug in either coder is a VALUE
        # MISMATCH, never a silent pass.
        "mm_decode": f"""
WITH d AS (SELECT doc_id FROM read_parquet('{docs}')),
img AS (
  SELECT doc_id, 'image' AS media_type, 'full' AS part,
    [(doc_id * 17 + j * 5) % 256 for j in
     range(0, 3 * (4 + doc_id % 13) * (3 + doc_id % 7))] AS bytes
  FROM d WHERE doc_id % 3 = 0
),
au AS (
  SELECT doc_id, 'audio' AS media_type, 'full' AS part,
    [(doc_id * 31 + i * 7) % 256
     for i in range(0, 16 + doc_id % 49)] AS bytes
  FROM d WHERE doc_id % 3 = 1
),
vfull AS (
  SELECT doc_id, 'video' AS media_type, 'full' AS part,
    [(doc_id * 13 + (j // 36) * 11 + (j % 36) * 3) % 256
     for j in range(0, (2 + doc_id % 5) * 36)] AS bytes
  FROM d WHERE doc_id % 3 = 2
),
vframes AS (
  SELECT doc_id, 'video' AS media_type,
         'frame:' || CAST(f AS VARCHAR) AS part,
    [(doc_id * 13 + f * 11 + j * 3) % 256 for j in range(0, 36)] AS bytes
  FROM (SELECT doc_id, unnest(range(0, 2 + doc_id % 5)) AS f
        FROM d WHERE doc_id % 3 = 2)
),
u AS (
  SELECT * FROM img UNION ALL SELECT * FROM au
  UNION ALL SELECT * FROM vfull UNION ALL SELECT * FROM vframes
)
SELECT CAST(doc_id AS BIGINT) AS asset_id, media_type, part,
  CAST(len(bytes) AS BIGINT) AS n_bytes,
  list_reduce(list_prepend(CAST(0 AS BIGINT), bytes), (x, y) -> x + y)
    AS sum_bytes,
  CAST(len(list_filter(bytes, v -> (v >> 6) = 0)) AS BIGINT) AS h0,
  CAST(len(list_filter(bytes, v -> (v >> 6) = 1)) AS BIGINT) AS h1,
  CAST(len(list_filter(bytes, v -> (v >> 6) = 2)) AS BIGINT) AS h2,
  CAST(len(list_filter(bytes, v -> (v >> 6) = 3)) AS BIGINT) AS h3
FROM u
""",
    }


def wikiner_oracles(lines_pq: str) -> dict[str, str]:
    """T1/T2/T4 re-derivations over the line-for-line parquet twin of the
    raw WikiNER file: article grouping = running blank count + dense
    rank, token parsing = list comprehensions, sentence split = cumulative
    '.'-count windows, CoNLL = per-sentence IOB→BIO + word/tag zip."""
    base = f"""
l AS (SELECT line_no, text FROM read_parquet('{lines_pq}')),
b AS (
  SELECT line_no, text,
         sum(CASE WHEN text = '' THEN 1 ELSE 0 END)
           OVER (ORDER BY line_no ROWS UNBOUNDED PRECEDING) AS grp
  FROM l
),
-- reference tail-flush quirk (dataset_wikiNER.py:74-79): a file whose
-- last line is exactly the newline (text empty) DROPS its final article
tail AS (
  SELECT CASE WHEN text = '' THEN 1 ELSE 0 END AS last_blank
  FROM l ORDER BY line_no DESC LIMIT 1
),
art AS (
  SELECT line_no, text, dense_rank() OVER (ORDER BY grp) - 1 AS article_id
  FROM b WHERE text <> ''
    AND NOT ((SELECT last_blank FROM tail) = 1
             AND grp = (SELECT max(grp) FROM b WHERE text <> ''))
),
tok0 AS (
  SELECT article_id, line_no,
         unnest([{{'t': t[i], 'i': i}} for i in range(1, len(t) + 1)]) AS u
  FROM (SELECT article_id, line_no,
               regexp_split_to_array(text, '[ \\t\\n\\v\\f\\r]+') AS t  -- line.split()
        FROM art)
),
toks AS (
  SELECT article_id,
         row_number() OVER (PARTITION BY article_id
                            ORDER BY line_no, u.i) AS tok_idx,
         string_split(u.t, '|')[1] AS word,
         string_split(u.t, '|')[2] AS pos,
         string_split(u.t, '|')[-1] AS tag
  FROM tok0 WHERE u.t <> ''
)"""
    sent = f"""{base},
s1 AS (
  SELECT article_id, tok_idx, word, tag,
         coalesce(sum(CASE WHEN word = '.' THEN 1 ELSE 0 END)
           OVER (PARTITION BY article_id ORDER BY tok_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS sent_idx
  FROM toks
),
sent AS (
  SELECT article_id, sent_idx,
         coalesce(string_agg(
             CASE WHEN word = '.' THEN NULL ELSE word || ' ' END,
             '' ORDER BY tok_idx), '') || '.' AS sentence,
         list(tag ORDER BY tok_idx) AS tags
  FROM s1
  GROUP BY article_id, sent_idx
  HAVING bool_or(word = '.')
)"""
    return {
        "wikiner_scan": f"""
WITH {base}
SELECT CAST(article_id AS BIGINT) AS article_id,
       CAST(tok_idx AS BIGINT) AS tok_idx, word, pos, tag
FROM toks
""",
        "wikiner_sentences": f"""
WITH {sent}
SELECT CAST(article_id AS BIGINT) AS article_id,
       CAST(sent_idx AS BIGINT) AS sent_idx, sentence,
       CAST(len(tags) AS BIGINT) AS n_tokens,
       array_to_string(tags, ' ') AS tags_str
FROM sent
""",
        "wikiner_conll": f"""
WITH {sent},
bio AS (
  SELECT article_id, sent_idx, sentence,
         [CASE WHEN tags[i] <> 'O'
                AND (i = 1 OR tags[i - 1] = 'O'
                     OR tags[i - 1][2:] <> tags[i][2:])
               THEN 'B' || tags[i][2:] ELSE tags[i] END
          for i in range(1, len(tags) + 1)] AS bio
  FROM sent
),
w AS (
  SELECT article_id, sent_idx, string_split(sentence, ' ') AS ws, bio
  FROM bio
),
lines AS (
  SELECT article_id, sent_idx, v.variant,
         unnest([{{'li': i - 1,
                  'line': CASE WHEN i <= len(ws) THEN
                    (CASE WHEN v.variant = 0 THEN ws[i]
                          ELSE lower(ws[i]) END) || ' ' || bio[i]
                  ELSE '' END}}
                 for i in range(1, len(ws) + 2)]) AS u
  FROM w, (VALUES (0), (1)) v(variant)
)
SELECT CAST(article_id AS BIGINT) AS article_id,
       CAST(sent_idx AS BIGINT) AS sent_idx,
       CAST(variant AS BIGINT) AS variant,
       CAST(u.li AS BIGINT) AS line_idx,
       u.line AS line
FROM lines
""",
    }


def inline_annotation_oracles(docs: str) -> dict[str, str]:
    """T10/T11 re-derivations: the entity dictionary from corpus hashes,
    the sequential space-delimited replace fold, and the per-line
    '$'-state machine — all as DuckDB recursive CTEs (genuinely
    independent of the Catalyst aggregate implementations)."""
    h_sel = _h60("('t10:' || w)")
    h_ty = _h60("('t10ty:' || w)")
    ann_fold = f"""
d AS (SELECT doc_id, text FROM read_parquet('{docs}')),
wv AS (SELECT DISTINCT u.w AS w
       FROM d, unnest(regexp_split_to_array(text, '[ \\t\\n\\v\\f\\r]+')) u(w)
       WHERE u.w <> ''),
e AS (SELECT w AS key, ['PER', 'LOC', 'ORG'][({h_ty} % 3) + 1] AS ty
      FROM wv WHERE {h_sel} % 3 = 0),
ents AS (SELECT list({{'k': key, 't': ty}} ORDER BY key) AS es FROM e),
fold AS (
  SELECT doc_id, text AS acc, 0 AS i FROM d
  UNION ALL
  SELECT f.doc_id,
         CASE WHEN strpos(f.acc, ' ' || es[f.i + 1].k || ' ') >= 3
              THEN replace(f.acc, ' ' || es[f.i + 1].k || ' ',
                           ' $' || es[f.i + 1].k || '$' || es[f.i + 1].t || ' ')
              ELSE f.acc END,
         f.i + 1
  FROM fold f, ents WHERE f.i < len(es)
),
ann AS (SELECT doc_id, acc AS annotated FROM fold, ents WHERE i = len(es))"""

    # per-line '$'-state machine: w = ws[i+1], p = string_split(w, '$'),
    # cnt = len(p)-1, outer = starts_with(w,'$') OR ent; branch order
    # mirrors parser.create_conll exactly
    w_ = "sm.ws[sm.i + 1]"
    p_ = f"string_split({w_}, '$')"
    cnt = f"(len({p_}) - 1)"
    outer = f"(starts_with({w_}, '$') OR sm.ent)"
    sm_fold = f"""
l0 AS (
  SELECT doc_id,
         unnest([{{'i': i, 'x': t[i]}} for i in range(1, len(t) + 1)]) AS u
  FROM (SELECT doc_id, string_split(annotated, chr(10)) AS t FROM ann)
),
l AS (SELECT doc_id, u.i - 1 AS src_line, u.x AS line FROM l0),
wl AS (
  SELECT doc_id, src_line,
         list_filter(regexp_split_to_array(line, '[ \\t\\n\\v\\f\\r]+'), x -> x <> '') AS ws
  FROM l
),
sm AS (
  SELECT doc_id, src_line, ws, 0 AS i, false AS ent,
         CAST([] AS VARCHAR[]) AS ann_buf, CAST([] AS VARCHAR[]) AS outl
  FROM wl
  UNION ALL
  SELECT sm.doc_id, sm.src_line, sm.ws, sm.i + 1,
    CASE WHEN NOT {outer} THEN sm.ent
         WHEN {cnt} = 2 THEN sm.ent
         WHEN {cnt} = 1 AND sm.ent THEN false
         WHEN {cnt} = 1 THEN true
         ELSE sm.ent END,
    CASE WHEN NOT {outer} THEN sm.ann_buf
         WHEN {cnt} = 2 THEN sm.ann_buf
         WHEN {cnt} = 1 AND sm.ent THEN CAST([] AS VARCHAR[])
         WHEN {cnt} = 1 THEN list_append(sm.ann_buf, {p_}[2])
         ELSE list_append(sm.ann_buf, {w_}) END,
    CASE WHEN NOT {outer} THEN list_append(sm.outl, {w_} || ' O')
         WHEN {cnt} = 2 THEN list_append(sm.outl, {p_}[2] || ' ' || {p_}[3])
         WHEN {cnt} = 1 AND sm.ent THEN
           list_concat(sm.outl,
             list_transform(list_append(sm.ann_buf, {p_}[1]),
                            a -> a || ' ' || {p_}[2]))
         ELSE sm.outl END
  FROM sm WHERE sm.i < len(sm.ws)
),
c0 AS (
  SELECT doc_id, src_line,
         unnest([{{'i': i, 'x': outl[i]}} for i in range(1, len(outl) + 1)]) AS u
  FROM (SELECT doc_id, src_line, outl FROM sm WHERE i = len(ws))
),
conll AS (
  SELECT doc_id, CAST(src_line AS BIGINT) AS src_line,
         CAST(u.i - 1 AS BIGINT) AS out_idx, u.x AS line
  FROM c0
)"""
    return {
        "t10_inline_annotate": f"""
WITH RECURSIVE {ann_fold}
SELECT doc_id, annotated FROM ann
""",
        "t10_inline_conll": f"""
WITH RECURSIVE {ann_fold}, {sm_fold}
SELECT doc_id, src_line, out_idx, line FROM conll
""",
        "t11_corpus_concat": f"""
WITH RECURSIVE {ann_fold}, {sm_fold}
SELECT doc_id, src_line, out_idx, line FROM conll
UNION ALL
-- one separator per DOC (reference appends data+'\\n' per file even if
-- the file produced no conll lines) — hence the doc table, not conll
SELECT DISTINCT doc_id, CAST(2147483648 AS BIGINT) AS src_line,
       CAST(0 AS BIGINT) AS out_idx, '' AS line
FROM read_parquet('{docs}')
""",
    }


def kg_links_sql(
    triples_src: str, alias_dim: str, jaccard_threshold: float = 0.5
) -> str:
    """Entity-linking re-derivation from a FROM-able triples source
    (``read_parquet('...')`` or a named CTE): distinct non-structural
    surfaces -> exact join + 3-gram inverted-index Jaccard + tie-breaks
    against the alias_dim parquet (shared data; the linking LOGIC is all
    SQL)."""
    grams3 = """
    CASE WHEN length(p) < 3 THEN [p]
         ELSE list_distinct([substr(p, i, 3)
                             for i in range(1, length(p) - 1)]) END"""
    return f"""
WITH t AS (SELECT * FROM {triples_src}),
surf AS (
  SELECT DISTINCT norm_key FROM (
    SELECT subj_norm AS norm_key FROM t WHERE subj_type NOT IN {_STRUCTURAL}
    UNION ALL
    SELECT obj_norm FROM t WHERE obj_type NOT IN {_STRUCTURAL}
  ) WHERE norm_key <> ''
),
a AS (SELECT alias_id, entity_key, alias, norm FROM read_parquet('{alias_dim}')),
exact_dim AS (SELECT norm, min(entity_key) AS entity_key FROM a GROUP BY norm),
exact AS (
  SELECT s.norm_key, e.entity_key,
         CASE WHEN e.entity_key IS NOT NULL THEN 1.0 ELSE 0.0 END AS score,
         CASE WHEN e.entity_key IS NOT NULL THEN 'exact' ELSE 'none' END AS method
  FROM surf s LEFT JOIN exact_dim e ON s.norm_key = e.norm
),
resid AS (SELECT norm_key FROM exact WHERE method = 'none'),
mg0 AS (
  SELECT norm_key, {grams3} AS grams
  FROM (SELECT norm_key, '^' || norm_key || '$' AS p FROM resid)
),
mg AS (SELECT norm_key, len(grams) AS m_n, unnest(grams) AS gram FROM mg0),
ag0 AS (
  SELECT alias_id, entity_key, alias, {grams3} AS grams
  FROM (SELECT alias_id, entity_key, alias, '^' || norm || '$' AS p FROM a)
),
ag AS (SELECT alias_id, entity_key, alias, len(grams) AS a_n,
              unnest(grams) AS gram FROM ag0),
scored AS (
  SELECT norm_key, alias_id, entity_key, alias, m_n, a_n, count(*) AS inter,
         count(*) / (m_n + a_n - count(*)) AS score
  FROM mg JOIN ag USING (gram)
  GROUP BY norm_key, alias_id, entity_key, alias, m_n, a_n
  HAVING count(*) / (m_n + a_n - count(*)) >= {jaccard_threshold}
),
fuzzy AS (
  SELECT norm_key, entity_key, score, 'fuzzy' AS method
  FROM (SELECT *, row_number() OVER (
          PARTITION BY norm_key
          ORDER BY score DESC, entity_key ASC, alias ASC) AS rn
        FROM scored)
  WHERE rn = 1
),
unmatched AS (
  SELECT r.norm_key, CAST(NULL AS VARCHAR) AS entity_key,
         0.0 AS score, 'none' AS method
  FROM resid r LEFT JOIN fuzzy f USING (norm_key)
  WHERE f.norm_key IS NULL
)
SELECT norm_key, entity_key, score, method FROM exact WHERE method = 'exact'
UNION ALL SELECT * FROM fuzzy
UNION ALL SELECT * FROM unmatched
"""


def kg_canonical_sql(links_src: str) -> str:
    """Canonicalization re-derivation from a FROM-able links source:
    surface/entity edge list -> recursive-CTE connected components
    (min-label closure)."""
    return f"""
WITH RECURSIVE
l AS (SELECT * FROM {links_src}),
ed AS (
  SELECT 'surface:' || norm_key AS src,
         coalesce(entity_key, 'surface:' || norm_key) AS dst
  FROM l
),
sym AS (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed),
cc AS (
  SELECT src AS node_id, src AS label FROM sym
  UNION
  SELECT e.dst AS node_id, c.label
  FROM cc c JOIN sym e ON e.src = c.node_id
)
SELECT node_id, min(label) AS canon_id FROM cc GROUP BY node_id
"""


def kg_edges_sql(
    triples_src: str,
    canonical_src: str,
    transcripts_cache: str,
    asof_midpoint: bool = False,
) -> str:
    """Edge-materialization re-derivation from FROM-able triples and
    canonical sources + the transcripts cache (for ts): structural-node
    resolution + weighted aggregate.

    ``asof_midpoint=True`` derives the temporal-snapshot twin
    (operators/materialize.edges_asof default): only triples with ts at
    or before floor((min+max)/2) of the triple stream's epoch range
    enter the rollup — the same in-plan scalar the Spark operator
    broadcasts. Both the per-row predicate and the midpoint use
    floor(epoch(ts)) to mirror Spark's second-truncating
    unix_timestamp(): DuckDB's epoch() is fractional, and with
    subsecond timestamps the snapshot membership at the cutoff would
    otherwise disagree between operator and oracle (ADVICE r3)."""
    asof = (
        """,
t AS (
  SELECT * FROM t0
  WHERE CAST(floor(epoch(ts)) AS BIGINT) <= (
    SELECT CAST(floor((min(floor(epoch(ts))) + max(floor(epoch(ts)))) / 2)
                AS BIGINT)
    FROM t0
  )
)"""
        if asof_midpoint
        else ",\nt AS (SELECT * FROM t0)"
    )
    return f"""
WITH t0 AS (
  SELECT tr.*, tc.ts
  FROM {triples_src} tr
  JOIN read_parquet('{transcripts_cache}') tc
    USING (conv_id, turn_idx)
){asof},
c AS (SELECT * FROM {canonical_src}),
nodes AS (
  SELECT
    CASE WHEN subj_type IN {_STRUCTURAL} THEN subj_norm
         ELSE 'surface:' || subj_norm END AS subj_node,
    pred,
    CASE WHEN obj_type IN {_STRUCTURAL} THEN obj_norm
         ELSE 'surface:' || obj_norm END AS obj_node,
    ts
  FROM t
),
r AS (
  SELECT coalesce(cs.canon_id, subj_node) AS subj_id, pred,
         coalesce(co.canon_id, obj_node) AS obj_id, ts
  FROM nodes
  LEFT JOIN c cs ON cs.node_id = subj_node
  LEFT JOIN c co ON co.node_id = obj_node
)
SELECT subj_id, pred, obj_id,
       CAST(count(*) AS BIGINT) AS weight,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS first_epoch,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS last_epoch
FROM r GROUP BY subj_id, pred, obj_id
"""


def edge_provenance_sql(
    triples_src: str, canonical_src: str, k: int | None = None
) -> str:
    """DuckDB re-derivation of operators/materialize.edge_provenance:
    the same structural-node resolution as kg_edges_sql (no ts — the
    citation table is time-free), distinct post-resolution citations,
    then the PLAIN single-window top-k per edge ordered by the 'pv:'
    h60 stream — an independent formulation of the operator's salted
    two-phase rank."""
    from transner_spark.operators.materialize import PROVENANCE_K

    if k is None:
        k = PROVENANCE_K
    h = _h60("('pv:' || conv_id || ':' || CAST(turn_idx AS VARCHAR))")
    return f"""
WITH nodes AS (
  SELECT
    CASE WHEN subj_type IN {_STRUCTURAL} THEN subj_norm
         ELSE 'surface:' || subj_norm END AS subj_node,
    pred,
    CASE WHEN obj_type IN {_STRUCTURAL} THEN obj_norm
         ELSE 'surface:' || obj_norm END AS obj_node,
    conv_id, turn_idx
  FROM {triples_src}
),
c AS (SELECT * FROM {canonical_src}),
r AS (
  SELECT DISTINCT coalesce(cs.canon_id, subj_node) AS subj_id, pred,
         coalesce(co.canon_id, obj_node) AS obj_id, conv_id, turn_idx
  FROM nodes
  LEFT JOIN c cs ON cs.node_id = subj_node
  LEFT JOIN c co ON co.node_id = obj_node
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY subj_id, pred, obj_id
    ORDER BY {h}, conv_id, turn_idx) AS rn
  FROM r
)
SELECT subj_id, pred, obj_id, conv_id, turn_idx, CAST(rn AS INT) AS rank
FROM ranked WHERE rn <= {k}
"""


def kg_edges_diff_sql(
    triples_src: str, canonical_src: str, transcripts_cache: str
) -> str:
    """Snapshot-delta re-derivation (operators/materialize.edges_diff):
    compose TWO independent kg_edges_sql rollups — the midpoint as-of
    snapshot and the full table — and full-outer join them on the edge
    key, keeping rows whose weight differs with status/old/new/delta.
    Edge keys are non-null by construction, so the ON equality join is
    exact."""
    old_sql = kg_edges_sql(
        triples_src, canonical_src, transcripts_cache, asof_midpoint=True
    )
    new_sql = kg_edges_sql(triples_src, canonical_src, transcripts_cache)
    return f"""
WITH snap_old AS ({old_sql}),
snap_new AS ({new_sql})
SELECT coalesce(n.subj_id, o.subj_id) AS subj_id,
       coalesce(n.pred, o.pred) AS pred,
       coalesce(n.obj_id, o.obj_id) AS obj_id,
       CASE WHEN o.subj_id IS NULL THEN 'added'
            WHEN n.subj_id IS NULL THEN 'removed'
            ELSE 'changed' END AS status,
       CAST(coalesce(o.weight, 0) AS BIGINT) AS weight_old,
       CAST(coalesce(n.weight, 0) AS BIGINT) AS weight_new,
       CAST(coalesce(n.weight, 0) - coalesce(o.weight, 0) AS BIGINT)
         AS weight_delta
FROM snap_new n
FULL OUTER JOIN snap_old o
  ON n.subj_id = o.subj_id AND n.pred = o.pred AND n.obj_id = o.obj_id
WHERE coalesce(n.weight, 0) <> coalesce(o.weight, 0)
"""


def entity_profiles_sql(
    triples_src: str, canonical_src: str, transcripts_cache: str
) -> str:
    """Per-canonical-entity serving view re-derived in SQL
    (operators/materialize.entity_profiles): resolve both triple sides
    through the canon map, union, aggregate counts/pred-distinct/time
    bounds, and pick the modal surface with the same deterministic
    (count desc, surface asc) tiebreak."""
    sn = f"CASE WHEN subj_type IN {_STRUCTURAL} THEN subj_norm ELSE 'surface:' || subj_norm END"
    on = f"CASE WHEN obj_type IN {_STRUCTURAL} THEN obj_norm ELSE 'surface:' || obj_norm END"
    return f"""
WITH t AS (
  SELECT tr.*, tc.ts
  FROM {triples_src} tr
  JOIN read_parquet('{transcripts_cache}') tc USING (conv_id, turn_idx)
),
c AS (SELECT * FROM {canonical_src}),
r AS (
  SELECT coalesce(cs.canon_id, {sn}) AS subj_id,
         coalesce(co.canon_id, {on}) AS obj_id,
         subj_value, obj_value, pred, ts
  FROM t
  LEFT JOIN c cs ON cs.node_id = {sn}
  LEFT JOIN c co ON co.node_id = {on}
),
sides AS (
  SELECT subj_id AS entity_id, subj_value AS surface, pred, ts, 1 AS is_subj
  FROM r
  UNION ALL
  SELECT obj_id, obj_value, pred, ts, 0 FROM r
),
stats AS (
  SELECT entity_id,
         CAST(sum(is_subj) AS BIGINT) AS n_subj,
         CAST(sum(1 - is_subj) AS BIGINT) AS n_obj,
         CAST(count(DISTINCT pred) AS BIGINT) AS n_preds,
         CAST(floor(epoch(min(ts))) AS BIGINT) AS first_epoch,
         CAST(floor(epoch(max(ts))) AS BIGINT) AS last_epoch
  FROM sides GROUP BY entity_id
),
top AS (
  SELECT entity_id, surface AS top_surface FROM (
    SELECT entity_id, surface,
           row_number() OVER (
             PARTITION BY entity_id ORDER BY count(*) DESC, surface
           ) AS rk
    FROM sides GROUP BY entity_id, surface
  ) WHERE rk = 1
)
SELECT s.entity_id, n_subj, n_obj, n_preds, first_epoch, last_epoch,
       top_surface
FROM stats s JOIN top USING (entity_id)
"""


def kg_derived_oracles(
    g_triples: str,
    g_links: str,
    g_canonical: str,
    transcripts_cache: str,
    alias_dim: str,
    jaccard_threshold: float = 0.5,
) -> dict[str, str]:
    """Independent SQL re-derivations for the downstream KG stages.

    The NER stages (mentions/triples) have their own end-to-end SQL
    derivations (oracles_ner) since round 3; everything AFTER them is
    re-derived here (kg_links_sql / kg_canonical_sql / kg_edges_sql)
    from the UPSTREAM stage golden plus shared dimension data, isolating
    each downstream gate to its own stage's logic: a bug in the Spark
    linking/canonicalization/materialization fails its gate even if the
    same bug lived in the python oracle's goldens for those stages.
    (pipeline_lineage chains the same builders golden-free end-to-end —
    see __spark_entry__.oracle_sql.)
    """
    return {
        "kg_links": kg_links_sql(
            f"read_parquet('{g_triples}')", alias_dim, jaccard_threshold
        ),
        "kg_canonical": kg_canonical_sql(f"read_parquet('{g_links}')"),
        "kg_edges": kg_edges_sql(
            f"read_parquet('{g_triples}')",
            f"read_parquet('{g_canonical}')",
            transcripts_cache,
        ),
        # incremental maintenance: the Spark side splits the triple
        # stream into batches, materializes each, and merges — the
        # oracle is the WHOLE-corpus derivation, checking the monoid
        # identity merge(edges(parts)) == edges(whole) at value level
        "kg_edges_incremental": kg_edges_sql(
            f"read_parquet('{g_triples}')",
            f"read_parquet('{g_canonical}')",
            transcripts_cache,
        ),
        # canon-refresh re-merge: the Spark side resolves batch-1 edges
        # under a STALE (batch-1-only) canon map, batch-2 under the
        # refreshed map, merges, then re-resolves the maintained table
        # through the refreshed map (operators/materialize.
        # reresolve_edges) — the oracle is the full recompute under the
        # refreshed map, proving a canon refresh needs no corpus replay
        "kg_edges_canon_refresh": kg_edges_sql(
            f"read_parquet('{g_triples}')",
            f"read_parquet('{g_canonical}')",
            transcripts_cache,
        ),
        # temporal snapshot at the in-plan midpoint cutoff
        "kg_edges_asof": kg_edges_sql(
            f"read_parquet('{g_triples}')",
            f"read_parquet('{g_canonical}')",
            transcripts_cache,
            asof_midpoint=True,
        ),
        # snapshot delta: midpoint as-of vs full table, two composed
        # independent rollups full-outer joined on the edge key
        "kg_edges_diff": kg_edges_diff_sql(
            f"read_parquet('{g_triples}')",
            f"read_parquet('{g_canonical}')",
            transcripts_cache,
        ),
        # per-entity serving view (counts, pred-distinct, time bounds,
        # modal surface) fully re-derived
        "entity_profiles": entity_profiles_sql(
            f"read_parquet('{g_triples}')",
            f"read_parquet('{g_canonical}')",
            transcripts_cache,
        ),
        # incremental-view maintenance: the Spark side builds mergeable
        # (entity, pred, surface) partials per corpus split, merges with
        # the partial monoid, and re-derives the view — the oracle is
        # the whole-corpus derivation, checking
        # profiles_from_partials(merge(partials(parts))) == view(whole)
        "entity_profiles_incremental": entity_profiles_sql(
            f"read_parquet('{g_triples}')",
            f"read_parquet('{g_canonical}')",
            transcripts_cache,
        ),
    }


def graph_oracles(
    edges_src: str,
    n_iterations: int | None = None,
    damping: float | None = None,
    lpa_iterations: int | None = None,
    khop_max_hops: int | None = None,
    khop_seeds: int | None = None,
) -> dict[str, str]:
    """Oracles for the graph-analytics operators (operators/graph.py)
    over a FROM-able edges source (the edges golden parquet in the gate —
    same upstream-golden isolation pattern as kg_links/canonical/edges:
    the graph LOGIC is fully re-derived here).

    graph_pagerank is the kmeans_cells precedent applied to graphs: the
    fixed iteration count makes Lloyd-style unrolling possible — one
    (contrib, dangling, rank) CTE triple per iteration, scalar aggregates
    as subqueries. Defaults come from the OPERATOR's constants so a
    tuning change cannot silently desynchronize oracle and operator."""
    from transner_spark.operators.graph import (
        NEIGHBORS_TOPK_K,
        PAGERANK_DAMPING,
        PAGERANK_ITERATIONS,
    )

    from transner_spark.operators.graph import (
        KHOP_MAX_HOPS,
        KHOP_SEEDS,
        LPA_ITERATIONS,
        SIMILARITY_MIN_COMMON,
    )
    from transner_spark.operators.walks import RW_SEEDS, RW_STEPS, RW_WALKS

    if n_iterations is None:
        n_iterations = PAGERANK_ITERATIONS
    if damping is None:
        damping = PAGERANK_DAMPING
    if lpa_iterations is None:
        lpa_iterations = LPA_ITERATIONS
    if khop_max_hops is None:
        khop_max_hops = KHOP_MAX_HOPS
    if khop_seeds is None:
        khop_seeds = KHOP_SEEDS
    topk_k = NEIGHBORS_TOPK_K
    min_common = SIMILARITY_MIN_COMMON
    rw_seeds, rw_steps, rw_walks = RW_SEEDS, RW_STEPS, RW_WALKS
    # undirected link set shared by the triangle/similarity twins —
    # ordered pairs (a < b), self-loops and multiplicities collapsed,
    # mirroring operators/graph._undirected
    und = (
        f"(SELECT DISTINCT least(subj_id, obj_id) AS a,"
        f" greatest(subj_id, obj_id) AS b FROM {edges_src}"
        f" WHERE subj_id <> obj_id)"
    )
    ed = f"(SELECT DISTINCT subj_id AS src, obj_id AS dst FROM {edges_src})"
    d = damping
    ctes = [
        f"e AS {ed}",
        "nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e)",
        "od AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM e GROUP BY src)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
        "pr0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS pr FROM nodes)",
    ]
    for i in range(1, n_iterations + 1):
        ctes.append(
            f"""c{i} AS (
  SELECT e.dst AS id, sum(p.pr / od.outdeg) AS contrib
  FROM e JOIN pr{i - 1} p ON p.id = e.src JOIN od ON od.src = e.src
  GROUP BY e.dst)"""
        )
        ctes.append(
            f"""d{i} AS (
  SELECT coalesce(sum(pr), 0.0) AS m FROM pr{i - 1}
  WHERE id NOT IN (SELECT src FROM e))"""
        )
        ctes.append(
            f"""pr{i} AS (
  SELECT nodes.id,
         (1.0 - {d}) / (SELECT n FROM nn)
         + {d} * (coalesce(c.contrib, 0.0)
                  + (SELECT m FROM d{i}) / (SELECT n FROM nn)) AS pr
  FROM nodes LEFT JOIN c{i} c ON c.id = nodes.id)"""
        )
    # double rounding (9 → 6 decimals) mirrors the operator exactly:
    # both engines snap to the same 9-dec grid point before the 6-dec
    # publish, so summation-order drift can't flip the published digit
    # at a rounding boundary (graph_pagerank docstring, ADVICE r3)
    pagerank = (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id AS node_id, round(round(pr, 9), 6) AS pr"
        f" FROM pr{n_iterations}"
    )
    return {
        "graph_degrees": f"""
WITH s AS (
  SELECT subj_id AS node_id, 1 AS is_out, weight FROM {edges_src}
  UNION ALL
  SELECT obj_id, 0, weight FROM {edges_src}
)
SELECT node_id,
  CAST(sum(CASE WHEN is_out = 1 THEN 1 ELSE 0 END) AS BIGINT) AS out_deg,
  CAST(sum(CASE WHEN is_out = 0 THEN 1 ELSE 0 END) AS BIGINT) AS in_deg,
  CAST(sum(CASE WHEN is_out = 1 THEN weight ELSE 0 END) AS BIGINT) AS out_weight,
  CAST(sum(CASE WHEN is_out = 0 THEN weight ELSE 0 END) AS BIGINT) AS in_weight
FROM s GROUP BY node_id
""",
        "graph_pagerank": pagerank,
        "graph_two_hop": f"""
WITH e AS {ed}
SELECT a.src AS src_id, b.dst AS dst_id, CAST(count(*) AS BIGINT) AS n_paths
FROM e a JOIN e b ON a.dst = b.src
GROUP BY a.src, b.dst
""",
        # same deterministic total tiebreak as the operator's window
        "graph_neighbors_topk": f"""
SELECT subj_id, pred, obj_id, CAST(weight AS BIGINT) AS weight,
       CAST(rank AS BIGINT) AS rank
FROM (
  SELECT subj_id, pred, obj_id, weight,
         row_number() OVER (
           PARTITION BY subj_id
           ORDER BY weight DESC, obj_id, pred
         ) AS rank
  FROM {edges_src}
)
WHERE rank <= {topk_k}
""",
        # degree-ordered orientation (ties: a, the id-smaller endpoint)
        # so each triangle has exactly one pivot; closing edge looked up
        # undirected (v < w in the wedge matches und's a < b). The
        # clustering expression order mirrors the operator exactly:
        # (2.0 * T) / (deg * (deg - 1.0)) — one IEEE division on exact
        # integers, engine-stable at round(6)
        "graph_triangles": f"""
WITH und AS {und},
deg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM und UNION ALL SELECT b FROM und
  ) GROUP BY node
),
o AS (
  SELECT CASE WHEN da.deg <= db.deg THEN u.a ELSE u.b END AS src,
         CASE WHEN da.deg <= db.deg THEN u.b ELSE u.a END AS dst
  FROM und u JOIN deg da ON da.node = u.a JOIN deg db ON db.node = u.b
),
tri AS (
  SELECT l.src, l.dst AS v, r.dst AS w
  FROM o l JOIN o r ON l.src = r.src AND l.dst < r.dst
  JOIN und c ON c.a = l.dst AND c.b = r.dst
),
tc AS (
  SELECT node_id, count(*) AS n_triangles FROM (
    SELECT src AS node_id FROM tri
    UNION ALL SELECT v FROM tri
    UNION ALL SELECT w FROM tri
  ) GROUP BY node_id
)
SELECT deg.node AS node_id,
       CAST(deg.deg AS BIGINT) AS degree,
       CAST(coalesce(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
       round(CASE WHEN deg.deg >= 2
                  THEN (2.0 * CAST(coalesce(tc.n_triangles, 0) AS DOUBLE))
                       / (CAST(deg.deg AS DOUBLE)
                          * (CAST(deg.deg AS DOUBLE) - 1.0))
                  ELSE 0.0 END, 6) AS clustering
FROM deg LEFT JOIN tc ON tc.node_id = deg.node
""",
        # fixed-iteration synchronous label propagation, unrolled one
        # (counts, argmax) CTE pair per round (the pagerank unroll
        # posture); argmax tiebreak = (count desc, label asc), the
        # operator's exact rank window
        "graph_communities": (
            "WITH und AS " + und + ",\n"
            "adj AS (SELECT a AS node, b AS nb FROM und"
            " UNION ALL SELECT b, a FROM und),\n"
            "lp0 AS (SELECT DISTINCT node, node AS label FROM adj),\n"
            + ",\n".join(
                f"""c{i} AS (
  SELECT a.node, l.label, count(*) AS c
  FROM adj a JOIN lp{i - 1} l ON l.node = a.nb
  GROUP BY a.node, l.label),
lp{i} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (
             PARTITION BY node ORDER BY c DESC, label ASC) AS rn
    FROM c{i})
  WHERE rn = 1)"""
                for i in range(1, lpa_iterations + 1)
            )
            + f""",
sz AS (SELECT label, count(*) AS community_size
       FROM lp{lpa_iterations} GROUP BY label)
SELECT l.node AS node_id, l.label AS community_id,
       CAST(sz.community_size AS BIGINT) AS community_size
FROM lp{lpa_iterations} l JOIN sz ON sz.label = l.label
"""
        ),
        # bounded BFS, unrolled one walk-extension CTE per hop: a node's
        # shortest distance <= k is the min hop at which ANY walk from
        # the seed reaches it (walks subsume paths), so min-over-union
        # of the per-hop frontiers equals the operator's first-touch BFS
        "graph_khop": (
            "WITH und AS " + und + ",\n"
            "adj AS (SELECT a AS node, b AS nb FROM und"
            " UNION ALL SELECT b, a FROM und),\n"
            "deg AS (SELECT node, count(*) AS deg FROM adj GROUP BY node),\n"
            f"seeds AS (SELECT node FROM deg"
            f" ORDER BY deg DESC, node ASC LIMIT {khop_seeds}),\n"
            "h0 AS (SELECT node AS seed_id, node AS node_id, 0 AS dist"
            " FROM seeds),\n"
            # DISTINCT per hop bounds each CTE at |V| rows per seed;
            # without it h_k enumerates every length-k WALK, which grows
            # ~deg^k from the deliberately-hub seeds
            + ",\n".join(
                f"h{i} AS (SELECT DISTINCT h.seed_id, a.nb AS node_id,"
                f" {i} AS dist"
                f" FROM h{i - 1} h JOIN adj a ON a.node = h.node_id)"
                for i in range(1, khop_max_hops + 1)
            )
            + ",\nallh AS ("
            + " UNION ALL ".join(
                f"SELECT * FROM h{i}" for i in range(khop_max_hops + 1)
            )
            + """)
SELECT seed_id, node_id, CAST(min(dist) AS INT) AS dist
FROM allh GROUP BY seed_id, node_id
"""
        ),
        # recursive-CTE min-label CC (the dedup_clusters oracle pattern)
        # over the same undirected link set; sizes via a window over the
        # component labels
        "graph_components": f"""
WITH RECURSIVE und AS {und},
sym AS (
  SELECT a AS src, b AS dst FROM und
  UNION
  SELECT b, a FROM und
),
cc AS (
  SELECT src AS node_id, src AS label FROM sym
  UNION
  SELECT e.dst AS node_id, c.label
  FROM cc c JOIN sym e ON e.src = c.node_id
),
lab AS (SELECT node_id, min(label) AS component_id FROM cc GROUP BY node_id)
SELECT node_id, component_id,
       CAST(count(*) OVER (PARTITION BY component_id) AS BIGINT)
         AS component_size
FROM lab
""",
        # deterministic DeepWalk corpus, unrolled one CTE per step (the
        # khop/pagerank posture): rank-indexed adjacency (row_number
        # PARTITIONED by node over sorted neighbor ids), next hop =
        # h60('rw:'||walk||':'||t||':'||seed) % deg — the operator's
        # exact hash arithmetic, independently re-derived
        "graph_walks": (
            "WITH und AS " + und + ",\n"
            "adj AS (SELECT a AS node, b AS nb FROM und"
            " UNION ALL SELECT b, a FROM und),\n"
            "adjr AS (SELECT node, nb, row_number() OVER ("
            "PARTITION BY node ORDER BY nb) - 1 AS rn FROM adj),\n"
            "deg AS (SELECT node, count(*) AS deg FROM adj GROUP BY node),\n"
            f"seeds AS (SELECT node FROM deg"
            f" ORDER BY deg DESC, node ASC LIMIT {rw_seeds}),\n"
            "w0 AS (SELECT s.node AS seed_id, CAST(w.i AS INT) AS walk_no,"
            " s.node AS node_id FROM seeds s CROSS JOIN"
            f" (SELECT unnest(range({rw_walks})) AS i) w),\n"
            + ",\n".join(
                f"w{t} AS (SELECT c.seed_id, c.walk_no, a.nb AS node_id\n"
                f"  FROM w{t - 1} c\n"
                "  JOIN deg d ON d.node = c.node_id\n"
                "  JOIN adjr a ON a.node = c.node_id AND a.rn = "
                + _h60(
                    "('rw:' || CAST(c.walk_no AS VARCHAR)"
                    f" || ':{t}:' || c.seed_id)"
                )
                + " % d.deg)"
                for t in range(1, rw_steps + 1)
            )
            + "\n"
            + " UNION ALL ".join(
                f"SELECT seed_id, walk_no, CAST({t} AS INT) AS step,"
                f" node_id FROM w{t}"
                for t in range(rw_steps + 1)
            )
        ),
        # gate runs unguarded (max_neighbor_degree=None), same posture
        # as graph_two_hop; jaccard = n_common / (deg_a + deg_b - n_common)
        "graph_similarity": f"""
WITH und AS {und},
adj AS (
  SELECT a AS node, b AS nb FROM und
  UNION ALL SELECT b, a FROM und
),
deg AS (SELECT node, count(*) AS deg FROM adj GROUP BY node),
pairs AS (
  SELECT x.node AS node_a, y.node AS node_b, count(*) AS n_common
  FROM adj x JOIN adj y ON x.nb = y.nb AND x.node < y.node
  GROUP BY x.node, y.node
  HAVING count(*) >= {min_common}
)
SELECT p.node_a, p.node_b,
       CAST(p.n_common AS BIGINT) AS n_common,
       CAST(da.deg AS BIGINT) AS deg_a,
       CAST(db.deg AS BIGINT) AS deg_b,
       round(CAST(p.n_common AS DOUBLE)
             / CAST(da.deg + db.deg - p.n_common AS DOUBLE), 6) AS jaccard
FROM pairs p
JOIN deg da ON da.node = p.node_a
JOIN deg db ON db.node = p.node_b
""",
    }


def ntriples_sql(edges_src: str) -> str:
    """Independent SQL derivation of the kg_export_ntriples gate
    (operators/export.edges_to_ntriples with include_weights=True):
    the identical ORDERED percent-escape chain (%25 first; '/' escaped
    so the reified edge IRI's delimiter is collision-free; full
    N-Triples-illegal printable set) and the same concatenation
    templates, re-built in DuckDB string functions so the escaping rule
    itself is value-checked. The operator's control-char raise_error
    guard is Spark-side only: inert on valid data (values match), and
    on invalid data the gate ERRORS instead of hash-matching garbage."""
    from transner_spark.operators.export import _ESCAPES

    def esc(col: str) -> str:
        out = col
        for raw, escd in _ESCAPES:
            raw_sql = raw.replace("'", "''")
            out = f"replace({out}, '{raw_sql}', '{escd}')"
        return out

    return f"""
WITH esc AS (
  SELECT {esc("subj_id")} AS s,
         {esc("pred")} AS p,
         {esc("obj_id")} AS o,
         weight
  FROM {edges_src}
)
SELECT '<urn:kg:node/' || s || '> <urn:kg:pred/' || p
       || '> <urn:kg:node/' || o || '> .' AS line
FROM esc
UNION ALL
SELECT '<urn:kg:edge/' || s || '/' || p || '/' || o
       || '> <urn:kg:pred/weight> "' || CAST(weight AS VARCHAR)
       || '"^^<http://www.w3.org/2001/XMLSchema#integer> .'
FROM esc
"""


def kg_integrity_sql(edges_src: str, canonical_src: str) -> str:
    """Independent SQL derivation of the kg_integrity gate
    (operators/evaluate.kg_integrity_report over the deliberately
    corrupted edge table q_kg_integrity builds): identical md5-hex
    slicing (DuckDB md5(varchar) == Spark md5(binary utf8)), identical
    corruption, then the four invariant counts re-derived — the
    unresolved check against the REWRITE domain (canon_id <> node_id),
    duplicate keys counted as keys not rows."""
    return f"""
WITH canon AS (SELECT * FROM {canonical_src}),
rw AS (SELECT DISTINCT node_id FROM canon WHERE canon_id <> node_id),
mn AS (SELECT min(node_id) AS rw_node FROM rw),
e AS (
  SELECT subj_id, pred, obj_id, weight, first_ts, last_ts,
         substr(md5(subj_id || '|' || pred || '|' || obj_id), 1, 1) AS hx
  FROM {edges_src}
),
corrupted AS (
  SELECT CASE WHEN hx = '2' THEN (SELECT rw_node FROM mn)
              ELSE subj_id END AS subj_id,
         pred,
         obj_id,
         CAST(CASE WHEN hx = '1' THEN 0 ELSE weight END AS BIGINT) AS weight,
         CASE WHEN hx = '0' THEN last_ts ELSE first_ts END AS first_ts,
         CASE WHEN hx = '0' THEN first_ts ELSE last_ts END AS last_ts,
         hx
  FROM e
),
bad AS (
  SELECT subj_id, pred, obj_id, weight, first_ts, last_ts FROM corrupted
  UNION ALL
  SELECT subj_id, pred, obj_id, weight, first_ts, last_ts
  FROM corrupted WHERE hx = '3'
),
one_pass AS (
  SELECT
    sum(CASE WHEN subj_id IN (SELECT node_id FROM rw)
              OR obj_id IN (SELECT node_id FROM rw)
             THEN 1 ELSE 0 END) AS unresolved_node,
    sum(CASE WHEN first_ts > last_ts THEN 1 ELSE 0 END) AS ts_disorder,
    sum(CASE WHEN weight < 1 THEN 1 ELSE 0 END) AS nonpositive_weight
  FROM bad
),
dups AS (
  SELECT count(*) AS duplicate_edge_key FROM (
    SELECT 1 FROM bad GROUP BY subj_id, pred, obj_id HAVING count(*) > 1
  )
)
SELECT 'unresolved_node' AS "check",
       CAST(coalesce(unresolved_node, 0) AS BIGINT) AS n_violations
FROM one_pass
UNION ALL
SELECT 'ts_disorder', CAST(coalesce(ts_disorder, 0) AS BIGINT) FROM one_pass
UNION ALL
SELECT 'nonpositive_weight', CAST(coalesce(nonpositive_weight, 0) AS BIGINT)
FROM one_pass
UNION ALL
SELECT 'duplicate_edge_key', CAST(coalesce(duplicate_edge_key, 0) AS BIGINT)
FROM dups
"""


def edges_prf_sql(
    triples_src: str, canonical_src: str, transcripts_cache: str
) -> str:
    """Independent SQL derivation of the eval_edges_prf gate
    (operators/evaluate.set_prf over the canonicalized vs raw edge
    sets): both edge tables re-derived by kg_edges_sql — the emitted
    side through the canon map, the reference side through an EMPTY
    canon (every node is its own id) — then per-pred set
    precision/recall/F1 with the same 0-conventions and expression
    order as the operator (IEEE arithmetic on counts is bit-identical
    across engines; round 6 on publish). Joins are null-safe
    (IS NOT DISTINCT FROM) mirroring the operator's eqNullSafe — NULL
    keys/groups are first-class set members on both engines."""
    empty_canon = (
        "(SELECT CAST(NULL AS VARCHAR) AS node_id,"
        " CAST(NULL AS VARCHAR) AS canon_id WHERE 1 = 0)"
    )
    emitted = kg_edges_sql(triples_src, canonical_src, transcripts_cache)
    reference = kg_edges_sql(triples_src, empty_canon, transcripts_cache)
    return f"""
WITH emitted AS ({emitted}),
ref AS ({reference}),
e AS (SELECT DISTINCT subj_id, pred, obj_id FROM emitted),
r AS (SELECT DISTINCT subj_id, pred, obj_id FROM ref),
em AS (SELECT pred, count(*) AS n_emitted FROM e GROUP BY pred),
rf AS (SELECT pred, count(*) AS n_reference FROM r GROUP BY pred),
mt AS (
  SELECT e.pred AS pred, count(*) AS n_match
  FROM e JOIN r
    ON e.subj_id IS NOT DISTINCT FROM r.subj_id
   AND e.pred IS NOT DISTINCT FROM r.pred
   AND e.obj_id IS NOT DISTINCT FROM r.obj_id
  GROUP BY e.pred
),
j AS (
  SELECT p.pred,
         coalesce(em.n_emitted, 0) AS n_emitted,
         coalesce(rf.n_reference, 0) AS n_reference,
         coalesce(mt.n_match, 0) AS n_match
  FROM (SELECT pred FROM em UNION SELECT pred FROM rf) p
  LEFT JOIN em ON p.pred IS NOT DISTINCT FROM em.pred
  LEFT JOIN rf ON p.pred IS NOT DISTINCT FROM rf.pred
  LEFT JOIN mt ON p.pred IS NOT DISTINCT FROM mt.pred
),
pr AS (
  SELECT pred, n_emitted, n_reference, n_match,
         CASE WHEN n_emitted > 0
              THEN CAST(n_match AS DOUBLE) / CAST(n_emitted AS DOUBLE)
              ELSE 0.0 END AS p,
         CASE WHEN n_reference > 0
              THEN CAST(n_match AS DOUBLE) / CAST(n_reference AS DOUBLE)
              ELSE 0.0 END AS r
  FROM j
)
SELECT pred,
       CAST(n_emitted AS BIGINT) AS n_emitted,
       CAST(n_reference AS BIGINT) AS n_reference,
       CAST(n_match AS BIGINT) AS n_match,
       round(p, 6) AS "precision",
       round(r, 6) AS recall,
       round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r)
                  ELSE 0.0 END, 6) AS f1
FROM pr
"""


def entity_cooccurrence_sql(
    triples_src: str,
    canonical_src: str,
    min_pair_count: int | None = None,
) -> str:
    """Independent SQL derivation of the kg_cooccurrence gate
    (operators/evaluate.entity_cooccurrence): canon-resolved DISTINCT
    (conv_id, node) membership (the same structural/surface node CASE
    kg_edges_sql applies), a self-join on conv_id for unordered pairs,
    marginal conversation counts, and lift/PMI in the operator's exact
    expression order — lift is pure IEEE arithmetic (round 6), pmi
    takes the pagerank double-round (9 -> 6) snap because ln() may
    differ by an ulp across engines."""
    from transner_spark.operators.evaluate import COOC_MIN_PAIR_COUNT

    if min_pair_count is None:
        min_pair_count = COOC_MIN_PAIR_COUNT
    lift = (
        "(CAST(n_pair AS DOUBLE) * (SELECT n_convs FROM nn))"
        " / (CAST(ma.n_node AS DOUBLE) * CAST(mb.n_node AS DOUBLE))"
    )
    return f"""
WITH tn AS (
  SELECT conv_id,
         CASE WHEN subj_type IN {_STRUCTURAL} THEN subj_norm
              ELSE 'surface:' || subj_norm END AS node
  FROM {triples_src}
  UNION ALL
  SELECT conv_id,
         CASE WHEN obj_type IN {_STRUCTURAL} THEN obj_norm
              ELSE 'surface:' || obj_norm END
  FROM {triples_src}
),
ents AS (
  SELECT DISTINCT conv_id, coalesce(c.canon_id, tn.node) AS node
  FROM tn LEFT JOIN {canonical_src} c ON c.node_id = tn.node
),
nn AS (SELECT CAST(count(DISTINCT conv_id) AS DOUBLE) AS n_convs FROM ents),
marg AS (SELECT node, count(*) AS n_node FROM ents GROUP BY node),
pairs AS (
  SELECT a.node AS node_a, b.node AS node_b, count(*) AS n_pair
  FROM ents a JOIN ents b ON a.conv_id = b.conv_id AND a.node < b.node
  GROUP BY a.node, b.node
  HAVING count(*) >= {min_pair_count}
)
SELECT node_a, node_b,
       CAST(n_pair AS BIGINT) AS n_pair,
       CAST(ma.n_node AS BIGINT) AS n_a,
       CAST(mb.n_node AS BIGINT) AS n_b,
       round({lift}, 6) AS lift,
       round(round(ln({lift}), 9), 6) AS pmi
FROM pairs
JOIN marg ma ON ma.node = pairs.node_a
JOIN marg mb ON mb.node = pairs.node_b
"""


def negative_samples_oracle(
    edges_src: str,
    n_samples: int | None = None,
    n_buckets: int | None = None,
) -> str:
    """DuckDB re-derivation of operators/negatives.negative_samples:
    the same two-level entity index (h60 bucket + within-bucket rank +
    constant-size offset running sum), the same per-(edge, sample)
    target hash, the same filtered-corruption predicate. Defaults come
    from the operator's constants so a tuning change cannot silently
    desynchronize oracle and operator."""
    from transner_spark.operators.negatives import NEG_BUCKETS, NEG_SAMPLES

    if n_samples is None:
        n_samples = NEG_SAMPLES
    if n_buckets is None:
        n_buckets = NEG_BUCKETS
    # mirror the operator's loud guards (range(0) here would silently
    # return zero rows while Spark's sequence(0, -1) descends)
    if n_samples < 1:
        raise ValueError(f"n_samples must be >= 1, got {n_samples}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    tgt = _h60(
        "('neg:' || CAST(s.sample_id AS VARCHAR) || ':' || p.subj_id"
        " || '|' || p.pred || '|' || p.obj_id)"
    )
    return f"""
WITH pos AS (SELECT DISTINCT subj_id, pred, obj_id FROM {edges_src}),
ents AS (SELECT DISTINCT id FROM
         (SELECT subj_id AS id FROM pos UNION SELECT obj_id FROM pos)),
eb AS (SELECT id, {_h60("('nsb:' || id)")} % {n_buckets} AS b FROM ents),
ranked AS (SELECT id, b,
                  row_number() OVER (PARTITION BY b ORDER BY id) AS rn
           FROM eb),
bc AS (SELECT b, count(*) AS c FROM eb GROUP BY b),
offs AS (SELECT b,
                COALESCE(SUM(c) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
                  PRECEDING AND 1 PRECEDING), 0) AS off
         FROM bc),
idx AS (SELECT r.id, CAST(o.off + r.rn - 1 AS BIGINT) AS gidx
        FROM ranked r JOIN offs o USING (b)),
tot AS (SELECT count(*) AS n_ents FROM ents),
cand AS (
  SELECT p.subj_id, p.pred, p.obj_id,
         CAST(s.sample_id AS INT) AS sample_id,
         {tgt} % tot.n_ents AS gidx
  FROM pos p
  CROSS JOIN (SELECT unnest(range({n_samples})) AS sample_id) s
  CROSS JOIN tot
),
neg AS (
  SELECT c.subj_id, c.pred, i.id AS neg_obj, c.sample_id
  FROM cand c JOIN idx i ON i.gidx = c.gidx
  WHERE i.id <> c.obj_id
)
SELECT n.subj_id, n.pred, n.neg_obj AS obj_id, n.sample_id
FROM neg n
WHERE NOT EXISTS (SELECT 1 FROM pos p
                  WHERE p.subj_id = n.subj_id AND p.pred = n.pred
                    AND p.obj_id = n.neg_obj)
"""


def curation_oracles(
    docs: str,
    decon_n: int | None = None,
    eval_mod: int | None = None,
    quota: int | None = None,
    rep_n: int | None = None,
) -> dict[str, str]:
    """Oracles for the corpus-curation operators (operators/curation.py).
    Defaults come from the operator constants so a tuning change cannot
    silently desynchronize oracle and operator.

    Independence: sample_quota's oracle uses the plain per-group global
    window (the operator uses the bucketed two-level rank);
    doc_repetition's oracle derives multiplicities via unnest + GROUP BY
    (the operator uses a sorted run-length fold)."""
    from transner_spark.operators.curation import (
        DECON_NGRAM,
        EVAL_MOD,
        MIXTURE_COVERAGE_PCT,
        MIXTURE_TARGETS,
        PACK_BUDGET,
        PACK_SHARDS,
        QUOTA_PER_GROUP,
        TRAIN_SHARDS,
        REPETITION_NGRAM,
    )

    if decon_n is None:
        decon_n = DECON_NGRAM
    if eval_mod is None:
        eval_mod = EVAL_MOD
    if quota is None:
        quota = QUOTA_PER_GROUP
    if rep_n is None:
        rep_n = REPETITION_NGRAM
    budget, shards = PACK_BUDGET, PACK_SHARDS
    is_eval = _h60("('eval:' || CAST(doc_id AS VARCHAR))") + f" % {eval_mod} = 0"
    n = decon_n
    rn = rep_n
    pct_case = (
        "CASE "
        + " ".join(
            f"WHEN lang = '{g}' THEN {p}"
            for g, p in sorted(MIXTURE_TARGETS.items())
        )
        + " END"
    )
    cov = MIXTURE_COVERAGE_PCT
    return {
        "decontaminate": f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks, {is_eval} AS is_eval
  FROM read_parquet('{docs}')
), s AS (
  SELECT doc_id, is_eval,
    CASE WHEN len(toks) < {n} THEN [array_to_string(toks, ' ')]
         ELSE list_distinct([array_to_string(toks[i:i+{n - 1}], ' ')
                             for i in range(1, len(toks) - {n - 2})]) END AS sh
  FROM t
), ev AS (SELECT DISTINCT unnest(sh) AS gram FROM s WHERE is_eval),
tr AS (SELECT doc_id, unnest(sh) AS gram FROM s WHERE NOT is_eval)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN gram IN (SELECT gram FROM ev)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_grams,
       sum(CASE WHEN gram IN (SELECT gram FROM ev) THEN 1 ELSE 0 END) > 0
           AS contaminated
FROM tr GROUP BY doc_id
""",
        # the two independent hash streams re-derived: shard from the
        # 'sh:' h60 stream, in-shard order key from the 'so:' md5 stream
        "train_shards": f"""
SELECT doc_id,
       CAST({_h60("('sh:' || CAST(doc_id AS VARCHAR))")}
            % {TRAIN_SHARDS} AS INT) AS shard,
       md5('so:' || CAST(doc_id AS VARCHAR)) AS shard_key
FROM read_parquet('{docs}')
""",
        # independent formulation: plain per-group window cumsum (the
        # operator uses the bucketed two-level running sum); // and
        # Spark's `div` agree on non-negative BIGINTs
        "sample_to_mixture": f"""
WITH t AS (
  SELECT doc_id, lang, CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         md5('mx:' || CAST(doc_id AS VARCHAR)) AS k,
         {pct_case} AS pct
  FROM read_parquet('{docs}')
), u AS (SELECT * FROM t WHERE pct IS NOT NULL),
c AS (
  SELECT *, sum(n_tokens) OVER (
    PARTITION BY lang ORDER BY k, doc_id
    ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM u
), tot AS (SELECT sum(n_tokens) AS total_tokens FROM u)
SELECT doc_id, lang, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c CROSS JOIN tot
WHERE cum_tokens <= total_tokens * pct * {cov} // 10000
""",
        "sample_quota": f"""
WITH r AS (
  SELECT doc_id, lang,
    row_number() OVER (PARTITION BY lang
      ORDER BY md5('sq:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM read_parquet('{docs}'))
SELECT doc_id, lang, CAST(rk AS BIGINT) AS sample_rank
FROM r WHERE rk <= {quota}
""",
        "doc_repetition": f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM read_parquet('{docs}')),
g AS (
  SELECT doc_id,
    CASE WHEN len(toks) < {rn} THEN CAST([] AS VARCHAR[])
         ELSE [array_to_string(toks[i:i+{rn - 1}], ' ')
               for i in range(1, len(toks) - {rn - 2})] END AS grams
  FROM t
), u AS (SELECT doc_id, unnest(grams) AS gram FROM g),
c AS (SELECT doc_id, gram, count(*) AS c FROM u GROUP BY doc_id, gram),
a AS (
  SELECT doc_id, sum(c) AS ng, max(c) AS topc,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dupocc,
         sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS dupk
  FROM c GROUP BY doc_id)
SELECT t.doc_id,
  CAST(coalesce(a.ng, 0) AS BIGINT) AS n_ngrams,
  CAST(coalesce(a.topc, 0) AS BIGINT) AS top_ngram_count,
  CAST(coalesce(a.dupocc, 0) AS BIGINT) AS dup_ngram_occurrences,
  CAST(coalesce(a.dupk, 0) AS BIGINT) AS dup_ngram_kinds,
  round(coalesce(a.topc, 0) / greatest(coalesce(a.ng, 0), 1), 6)
      AS top_ngram_frac,
  round(coalesce(a.dupocc, 0) / greatest(coalesce(a.ng, 0), 1), 6)
      AS dup_ngram_frac
FROM t LEFT JOIN a USING (doc_id)
""",
        # greedy sequential packing replayed as a recursive CTE: one row
        # per step per shard, the state (bin, pos, acc) carried through
        # the recursion — the same rule the operator's per-shard pandas
        # scan applies (rollover only when acc > 0 would overflow)
        "pack_sequences": f"""
WITH RECURSIVE t AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         CAST({_h60("('pk:' || CAST(doc_id AS VARCHAR))")} % {shards} AS INT)
             AS shard,
         md5('pk:' || CAST(doc_id AS VARCHAR)) AS k
  FROM read_parquet('{docs}')
), o AS (
  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS rn
  FROM t
), p AS (
  SELECT shard, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS bin, 0 AS pos, n_tokens AS acc
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
    CASE WHEN p.acc > 0 AND p.acc + o.n_tokens > {budget}
         THEN p.bin + 1 ELSE p.bin END,
    CASE WHEN p.acc > 0 AND p.acc + o.n_tokens > {budget}
         THEN 0 ELSE p.pos + 1 END,
    CASE WHEN p.acc > 0 AND p.acc + o.n_tokens > {budget}
         THEN o.n_tokens ELSE p.acc + o.n_tokens END
  FROM p JOIN o ON o.shard = p.shard AND o.rn = p.rn + 1
)
SELECT doc_id, shard, bin, pos, n_tokens FROM p
""",
    }


def mention_contexts_oracle(mentions_src: str, turns_src: str) -> str:
    """DuckDB re-derivation of operators/curation.mention_contexts over
    the mentions golden + transcripts cache: the same 1-based substring
    window arithmetic (greatest/least clamps) re-built in substr(). The
    operator's offset-drift raise_error guard is Spark-side only: inert
    on aligned data (values match), and on drifted offsets the gate
    ERRORS instead of hash-matching garbage (the ntriples precedent)."""
    from transner_spark.operators.curation import CTX_CHARS

    k = CTX_CHARS
    return f"""
SELECT m.conv_id, m.turn_idx, m.mention_id, m.type,
       substr(t.text, greatest(1, m.offset + 1 - {k}),
              least({k}, m.offset)) AS left_ctx,
       substr(t.text, m.offset + 1, len(m.value)) AS surface,
       substr(t.text, m.offset + len(m.value) + 1, {k}) AS right_ctx
FROM read_parquet('{mentions_src}') m
JOIN read_parquet('{turns_src}') t USING (conv_id, turn_idx)
"""


def redact_pii_oracle(mentions_src: str, turns_src: str) -> str:
    """DuckDB re-derivation of operators/curation.redact_pii over the
    mentions GOLDEN (upstream-golden stage isolation — the regex spans
    themselves are value-gated by mentions_regex) + the transcripts
    cache. Independent formulation: the keep-set is a recursive CTE over
    per-turn ranked spans (the operator uses an in-row fold), and the
    splice is a lag-window + ordered string_agg (the operator builds the
    string inside the fold)."""
    return f"""
WITH RECURSIVE m AS (
  SELECT conv_id, turn_idx, "offset" AS s,
         "offset" + length(value) AS e, type
  FROM read_parquet('{mentions_src}') WHERE source = 'regex'
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, turn_idx ORDER BY s, e DESC, type) AS rk
  FROM m
), k AS (
  SELECT conv_id, turn_idx, s, e, type, rk, TRUE AS keep, e AS pos
  FROM r WHERE rk = 1
  UNION ALL
  SELECT r.conv_id, r.turn_idx, r.s, r.e, r.type, r.rk,
         r.s >= k.pos AS keep,
         greatest(k.pos, r.e) AS pos
  FROM k JOIN r ON r.conv_id = k.conv_id AND r.turn_idx = k.turn_idx
             AND r.rk = k.rk + 1
), seg AS (
  -- the redaction frontier BEFORE each span = the previous span's pos
  -- (over ALL spans, kept or dropped — dropped spans advance it too)
  SELECT *, coalesce(lag(pos) OVER (
    PARTITION BY conv_id, turn_idx ORDER BY rk), 0) AS prev_pos
  FROM k
), spliced AS (
  SELECT t.conv_id, t.turn_idx,
         string_agg(
           CASE WHEN seg.keep THEN
             substr(t.text, CAST(seg.prev_pos + 1 AS INT),
                    CAST(seg.s - seg.prev_pos AS INT))
             || '[' || seg.type || ']' END, '' ORDER BY seg.rk) AS body,
         max(seg.pos) AS last_e,
         CAST(count(*) FILTER (seg.keep) AS BIGINT) AS n_redacted
  FROM seg JOIN read_parquet('{turns_src}') t
    USING (conv_id, turn_idx)
  GROUP BY t.conv_id, t.turn_idx
)
SELECT t.conv_id, CAST(t.turn_idx AS BIGINT) AS turn_idx,
       CASE WHEN s.body IS NULL THEN t.text
            ELSE s.body || substr(t.text, CAST(s.last_e + 1 AS INT))
       END AS redacted_text,
       coalesce(s.n_redacted, 0) AS n_redacted
FROM read_parquet('{turns_src}') t
LEFT JOIN spliced s USING (conv_id, turn_idx)
"""
