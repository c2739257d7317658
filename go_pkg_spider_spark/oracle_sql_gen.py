"""DuckDB oracle-SQL generators for the LSH/ANN entry queries.

Every signature in the dedup/similarity family is derived from values
BOTH engines can compute bit-identically:

- 64-bit string hash  = md5_number_upper(s)  (DuckDB built-in)
                      = int.from_bytes(md5(s).digest()[:8], 'little')
                        (operators/dedup._hash64_bytes)
- minhash             = min over shingles of (a*h + b) mod 2^64, replayed
                        in HUGEINT arithmetic (a, b < 2^63 -> no overflow)
- simhash             = per-bit majority vote over token hashes (64
                        generated CASE terms)
- hyperplane bits     = sign of dot(v, plane) with the planes inlined as
                        literals (similarity._seeded_planes is pure)

Band GROUPING uses the raw concatenated band-slice string where Spark
uses xxhash64 of it — grouping by h(x) and grouping by x are the same
partition of rows (equality-equivalent), so the pair sets match without
needing xxhash64 in DuckDB.

These functions return plain SQL strings; they do no I/O and read no
data, so oracle_sql() stays a static dict.
"""

from __future__ import annotations

from .operators.dedup import minhash_params
from .operators.similarity import (
    LSH_MAX_HAMMING_BITS,
    LSH_PLANES,
    NEARDUP_BANDS,
    NEARDUP_PLANES_PER_BAND,
    _seeded_planes,
)

MOD64 = "18446744073709551616::HUGEINT"  # 2^64

# whitespace-normalized lowercase words, identical to dedup.normalized_text
# + split (proven against Spark by the ngram_jaccard oracle entry)
_WORDS = (
    "list_filter(string_split(lower(trim(regexp_replace({text}, '\\s+', ' ', 'g'))), ' '),"
    " x -> x != '')"
)


def _shingles(text: str, n: int) -> str:
    w = _WORDS.format(text=text)
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({w}) - {n - 1}, 0) + 1),"
        f" i -> array_to_string(({w})[i:i+{n - 1}], ' ')))"
    )


def minhash_lsh_sql(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.3,
) -> str:
    """Full MinHash+LSH candidate-pair pipeline in DuckDB SQL."""
    A, B = minhash_params(num_hashes)
    rpb = num_hashes // bands
    sig_terms = ",\n        ".join(
        f"list_aggregate(list_transform(h, x -> ({a}::HUGEINT * x + {b}::HUGEINT) % {MOD64}), 'min')"
        for a, b in zip(A, B)
    )
    return f"""
    WITH sh AS (
      SELECT {id_col} AS id, {_shingles(text, shingle_n)} AS grams FROM {table}
      WHERE len({_WORDS.format(text=text)}) >= {shingle_n}
    ), hs AS (
      SELECT id, list_transform(grams, s -> md5_number_upper(s)::HUGEINT) AS h FROM sh
    ), sig AS (
      SELECT id, [
        {sig_terms}
      ] AS sig FROM hs
    ), banded AS (
      SELECT id, sig, b,
             array_to_string(list_transform(sig[b*{rpb}+1 : b*{rpb}+{rpb}], x -> x::VARCHAR), ',') AS band_key
      FROM sig CROSS JOIN unnest(range(0, {bands})) AS t(b)
    )
    SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           round(len(list_filter(range(1, {num_hashes} + 1), i -> a.sig[i] = b.sig[i])) / {num_hashes}.0, 6) AS jaccard
    FROM banded a JOIN banded b
      ON a.b = b.b AND a.band_key = b.band_key AND a.id < b.id
    WHERE len(list_filter(range(1, {num_hashes} + 1), i -> a.sig[i] = b.sig[i])) / {num_hashes}.0 >= {threshold}
    """


def simhash_sql(
    table: str = "documents", text: str = "text", id_col: str = "doc_id"
) -> str:
    """64-bit SimHash per row: majority vote per bit over the token-hash
    multiset, reassembled as a signed BIGINT (two's complement)."""
    bit_terms = " + ".join(
        f"(CASE WHEN 2*list_sum(list_transform(h, x -> CAST((x >> {j}) & 1 AS BIGINT))) > len(h) THEN {1 << j}::HUGEINT ELSE 0::HUGEINT END)"
        for j in range(64)
    )
    return f"""
    WITH toks AS (
      SELECT {id_col} AS id,
             regexp_extract_all(lower({text}), '[^ \\t\\n\\r\\f]+') AS t
      FROM {table}
    ), hs AS (
      SELECT id, list_transform(t, s -> md5_number_upper(s)) AS h FROM toks
    ), raw AS (
      SELECT id, CASE WHEN len(h) = 0 THEN 0::HUGEINT ELSE {bit_terms} END AS v FROM hs
    )
    SELECT id AS doc_id,
           CAST(CASE WHEN v >= 9223372036854775808::HUGEINT THEN v - {MOD64} ELSE v END AS BIGINT) AS simhash
    FROM raw
    """


def _plane_literal(plane: list[float]) -> str:
    return "[" + ", ".join(f"{x!r}" for x in plane) + "]"


def _vec_literal(vec: list[float]) -> str:
    return "[" + ", ".join(f"{x!r}" for x in vec) + "]"


def _dot_expr(v: str, lit: str, dim: int) -> str:
    return f"list_sum(list_transform(range(1, {dim} + 1), i -> ({v})[i] * ({lit})[i]))"


def hyperplane_sig_expr(v: str, planes: list[list[float]]) -> str:
    """Sign-bit signature (bit i set iff dot(v, plane_i) >= 0) as BIGINT."""
    dim = len(planes[0])
    terms = " + ".join(
        f"(CASE WHEN {_dot_expr(v, _plane_literal(p), dim)} >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"({terms})"


def ann_lsh_topk_sql(
    query_vec: list[float],
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    round_digits: int = 4,
) -> str:
    """Hyperplane-LSH pruned ANN top-k (similarity.lsh_bucketed_topk)."""
    dim = len(query_vec)
    planes = _seeded_planes(dim, LSH_PLANES)
    qbits = 0
    for i, p in enumerate(planes):
        if sum(px * qx for px, qx in zip(p, query_vec)) >= 0:
            qbits |= 1 << i
    q = _vec_literal(query_vec)
    return f"""
    WITH e AS (
      SELECT {id_col}, list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v FROM {table}
    ), sig AS (
      SELECT {id_col}, v, {hyperplane_sig_expr('v', planes)} AS s FROM e
    )
    SELECT {id_col}, round(list_cosine_similarity(v, {q}), {round_digits}) AS cosine_sim
    FROM sig
    WHERE bit_count(xor(s::BIGINT, {qbits}::BIGINT)) <= {LSH_MAX_HAMMING_BITS}
    ORDER BY cosine_sim DESC, {id_col}
    LIMIT {k}
    """


def ann_ivf_topk_sql(
    query_vec: list[float],
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 4,
    round_digits: int = 4,
) -> str:
    """IVF with the SQL-reproducible trainer: seeds = the n_cells vectors
    first in md5(id) order, one Lloyd step (assign -> per-cell rounded
    elementwise mean), probe the n_probe cells nearest the query, exact
    cosine top-k over rows assigned (against the trained centroids) to a
    probed cell. Mirrors similarity.train_ivf_centroids_distributed(
    iters=1) + ivf_topk."""
    dim = len(query_vec)
    q = _vec_literal(query_vec)
    sqd = f"list_sum(list_transform(range(1, {dim} + 1), i -> (e.v[i] - s.c[i]) * (e.v[i] - s.c[i])))"
    qd = f"list_sum(list_transform(range(1, {dim} + 1), i -> (c[i] - ({q})[i]) * (c[i] - ({q})[i])))"
    return f"""
    WITH e AS (
      SELECT {id_col} AS id, list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v FROM {table}
    ), seeds AS (
      -- md5(id) order = the trainer's deterministic seed spread
      -- (first-k ids collapse on cluster-sorted corpora)
      SELECT row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) - 1 AS j, v AS c
      FROM e ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT {n_cells}
    ), a0 AS (
      SELECT id, v, cell FROM (
        SELECT e.id, e.v, s.j AS cell,
               ROW_NUMBER() OVER (PARTITION BY e.id ORDER BY {sqd}, s.j) AS rk
        FROM e CROSS JOIN seeds s
      ) WHERE rk = 1
    ), c1 AS (
      SELECT cell, list(mx ORDER BY pos) AS c FROM (
        SELECT cell, pos, round(AVG(x), 6) AS mx FROM (
          SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM a0
        ) GROUP BY cell, pos
      ) GROUP BY cell
    ), probe AS (
      SELECT cell FROM c1 ORDER BY {qd}, cell LIMIT {n_probe}
    ), a1 AS (
      SELECT id, v, cell FROM (
        SELECT e.id, e.v, s.cell,
               ROW_NUMBER() OVER (PARTITION BY e.id ORDER BY {sqd}, s.cell) AS rk
        FROM e CROSS JOIN (SELECT cell, c FROM c1) s
      ) WHERE rk = 1
    )
    SELECT id AS {id_col}, round(list_cosine_similarity(v, {q}), {round_digits}) AS cosine_sim
    FROM a1 WHERE cell IN (SELECT cell FROM probe)
    ORDER BY cosine_sim DESC, id
    LIMIT {k}
    """


def ann_ivf_batch_topk_sql(
    dim: int,
    n_queries: int = 3,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 4,
    round_digits: int = 4,
) -> str:
    """Batch variant of ann_ivf_topk_sql (similarity.ivf_topk_batch):
    the queries are the table's n_queries smallest ids, probed against
    the SAME SQL-reproducible trained index (md5-order seeds + one Lloyd
    step, rounded means). Probe ties to the lowest cell, result ties to
    the lowest candidate id after rounding — the Spark operator's exact
    semantics."""
    sqd = f"list_sum(list_transform(range(1, {dim} + 1), i -> (e.v[i] - s.c[i]) * (e.v[i] - s.c[i])))"
    qd = f"list_sum(list_transform(range(1, {dim} + 1), i -> (s.c[i] - q.qv[i]) * (s.c[i] - q.qv[i])))"
    # mirror the Spark operator's degenerate-input semantics (ADVICE
    # r5): a zero-norm side makes the cosine 0.0 (Spark coalesces the
    # 0/0), never NULL — an unguarded list_cosine_similarity would
    # yield NULL and NULLS-LAST ordering would rank it arbitrarily
    cos = (
        f"round(CASE WHEN list_sum(list_transform(a1.v, x -> x * x)) = 0 "
        f"OR list_sum(list_transform(p.qv, x -> x * x)) = 0 THEN 0.0 "
        f"ELSE list_cosine_similarity(a1.v, p.qv) END, {round_digits})"
    )
    return f"""
    WITH e AS (
      -- NULL vectors are dropped before training/indexing, exactly as
      -- the Spark job filters them (run_ann_index, ivf_topk_batch)
      SELECT {id_col} AS id, list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v
      FROM {table} WHERE {vec_col} IS NOT NULL
    ), seeds AS (
      -- md5(id) order = the trainer's deterministic seed spread
      -- (first-k ids collapse on cluster-sorted corpora)
      SELECT row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) - 1 AS j, v AS c
      FROM e ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT {n_cells}
    ), a0 AS (
      SELECT id, v, cell FROM (
        SELECT e.id, e.v, s.j AS cell,
               ROW_NUMBER() OVER (PARTITION BY e.id ORDER BY {sqd}, s.j) AS rk
        FROM e CROSS JOIN seeds s
      ) WHERE rk = 1
    ), c1 AS (
      SELECT cell, list(mx ORDER BY pos) AS c FROM (
        SELECT cell, pos, round(AVG(x), 6) AS mx FROM (
          SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM a0
        ) GROUP BY cell, pos
      ) GROUP BY cell
    ), a1 AS (
      SELECT id, v, cell FROM (
        SELECT e.id, e.v, s.cell,
               ROW_NUMBER() OVER (PARTITION BY e.id ORDER BY {sqd}, s.cell) AS rk
        FROM e CROSS JOIN (SELECT cell, c FROM c1) s
      ) WHERE rk = 1
    ), q AS (
      SELECT id AS qid, v AS qv FROM e ORDER BY id LIMIT {n_queries}
    ), probes AS (
      SELECT qid, qv, cell FROM (
        SELECT q.qid, q.qv, s.cell,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY {qd}, s.cell) AS rk
        FROM q CROSS JOIN c1 s
      ) WHERE rk <= {n_probe}
    )
    SELECT qid, CAST(rk AS INTEGER) AS rk, id AS {id_col}, cosine_sim FROM (
      SELECT p.qid, a1.id, {cos} AS cosine_sim,
             ROW_NUMBER() OVER (
               PARTITION BY p.qid ORDER BY {cos} DESC, a1.id
             ) AS rk
      FROM a1 JOIN probes p ON a1.cell = p.cell
    ) WHERE rk <= {k}
    """


def embedding_neardup_sql(
    dim: int,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.25,
    round_digits: int = 4,
) -> str:
    """Multi-band hyperplane near-dup pairs (similarity.
    embedding_neardup_pairs): candidates share ALL sign bits of at least
    one band; exact cosine verifies."""
    ppb = NEARDUP_PLANES_PER_BAND
    all_planes = _seeded_planes(dim, NEARDUP_BANDS * ppb)
    band_sigs = ", ".join(
        hyperplane_sig_expr("v", all_planes[b * ppb : (b + 1) * ppb])
        for b in range(NEARDUP_BANDS)
    )
    return f"""
    WITH e AS (
      SELECT {id_col} AS id, list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v FROM {table}
    ), s4 AS (
      SELECT id, v, [{band_sigs}] AS sigs FROM e
    ), sig AS (
      SELECT id, v, b, sigs[b + 1] AS bits
      FROM s4 CROSS JOIN unnest(range(0, {NEARDUP_BANDS})) AS t(b)
    )
    SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           round(list_cosine_similarity(a.v, b.v), {round_digits}) AS cosine_sim
    FROM sig a JOIN sig b ON a.b = b.b AND a.bits = b.bits AND a.id < b.id
    WHERE round(list_cosine_similarity(a.v, b.v), {round_digits}) >= {threshold}
    """


# ---------------------------------------------------------------------------
# extract_news: title-clean (F13) + publish-date cascade (F10/F11) twin
# ---------------------------------------------------------------------------

# the zh title split-mark class / en split marks, verbatim from
# functions/textnorm.py (common Java/RE2 subset)
_ZH_SPLIT = r"[_|\-－｜—＊：,，:·=]"
_ZH_NONSPLIT = r"[^_|\-－｜—＊：,，:·=]"


def _norm_date_sql(col: str) -> str:
    """DuckDB twin of dates.normalize_date_string — the same ordered
    replace chain ('g' where Spark replaces all occurrences)."""
    c = f"regexp_replace({col}, '^[^0-9]+', '')"
    c = f"regexp_replace({c}, '[年月]', '-', 'g')"
    c = f"regexp_replace({c}, '日', ' ', 'g')"
    c = f"regexp_replace({c}, '[点时]', ':', 'g')"
    c = f"regexp_replace({c}, '分', ':', 'g')"
    c = f"regexp_replace({c}, '秒', '', 'g')"
    c = f"regexp_replace({c}, '\\s*[Tt]\\s*', ' ', 'g')"
    c = f"regexp_replace({c}, '[:]\\d{{3,4}}$', '')"
    c = f"regexp_replace({c}, '([+-]\\d{{2}}):?\\d{{2}}$', '')"
    c = f"regexp_replace({c}, ':\\s*$', '')"
    return f"trim(regexp_replace({c}, '\\s{{2,}}', ' ', 'g'))"


def date_cascade_sql(
    cascade: list[tuple[str, str, bool]], col: str = "pg"
) -> tuple[str, str]:
    """(raw_expr, kind_expr) — the ordered date cascade over `col` in
    DuckDB SQL, priority-identical to dates.extract_publish_date_raw.
    Shared by extract_news_sql and the hypothesis dialect-parity test."""
    cands = [
        (
            kind,
            "nullif(regexp_extract(%s, '%s', 0), '')"
            % (f"lower({col})" if lowered else col, pattern),
        )
        for kind, pattern, lowered in cascade
    ]
    raw = "COALESCE(" + ", ".join(e for _, e in cands) + ")"
    kind_case = (
        "CASE "
        + " ".join(f"WHEN {e} IS NOT NULL THEN '{k}'" for k, e in cands)
        + " END"
    )
    return raw, kind_case


def extract_news_sql(cascade: list[tuple[str, str, bool]]) -> str:
    """DuckDB twin of the extract_news_docs entry: the synthetic page is
    built from the SAME deterministic recipe, the title-clean replays
    web_title_clean (zh + en branches), the date cascade replays
    dates.cascade_patterns() in priority order, and the raw match goes
    through the normalize_date_string chain."""
    raw, kind_case = date_cascade_sql(cascade, "pg")
    en_title = (
        "COALESCE("
        "trim(nullif(regexp_extract(rt, '^(.*) - ', 1), '')), "
        "trim(nullif(regexp_extract(rt, '^(.*) \\| ', 1), '')), "
        "trim(nullif(regexp_extract(rt, '^(.*):', 1), '')), rt)"
    )
    zh_pre = (
        f"trim(regexp_extract(regexp_replace(regexp_replace(rt, "
        f"'^{_ZH_SPLIT}+', ''), '^首页([ |\\-_－—｜])*', ''), "
        f"'^({_ZH_NONSPLIT}*)', 1))"
    )
    zh_title = (
        "regexp_replace(CASE WHEN zt != '首页' "
        "THEN regexp_replace(zt, '首页$', '') ELSE zt END, "
        "'[\\p{P}\\p{S}]', '', 'g')"
    )
    return f"""
    WITH b AS (
      SELECT doc_id, lang, source, text,
             lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') AS mm,
             lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS dd,
             doc_id % 5 AS v
      FROM documents
    ), p AS (
      SELECT doc_id, lang,
        '首页-' || source || ' - ' || substr(text, 1, 24) || ' | Example News' AS rt,
        '首页-' || source || ' - ' || substr(text, 1, 24) || ' | Example News'
          || chr(10) || substr(text, 25, 60) || ' ' ||
          CASE v WHEN 0 THEN '2023-' || mm || '-' || dd || ' 08:30:15'
                 WHEN 1 THEN '发布时间: 2023年' || mm || '月' || dd || '日 12时34分56秒'
                 WHEN 2 THEN 'March ' || dd || ', 2022 10:11'
                 WHEN 3 THEN mm || '/' || dd || '/2021 08:30'
                 ELSE '' END || ' end.' AS pg
      FROM b
    ), z AS (
      SELECT doc_id, lang, rt, pg,
             CASE WHEN lang = 'zh' THEN {zh_pre} END AS zt
      FROM p
    ), t AS (
      SELECT doc_id, pg,
             CASE WHEN lang = 'zh' THEN {zh_title} ELSE {en_title} END AS title,
             {raw} AS raw0, {kind_case} AS time_kind
      FROM z
    )
    SELECT doc_id, title, instr(pg, title) AS title_pos, time_kind,
           {_norm_date_sql('raw0')} AS time_raw
    FROM t
    """
