"""Registry segment: published filters, sketches, BPE, frontier capstones."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, relational, textops
from ..sources.pages import synthesize_pages_df
from ..stages import run_extraction

from .common import (
    _TOKS,
    _docs,
    _doubled_docs,
    _tbl,
    _utc,
)
from .relational_web import (
    _host_graph_edges,
    _synth_robots_df,
)
from .dedup_olap import (
    _SHINGLES_SQL,
)
from .curation import (
    _SQL_LM_SCORES,
)

# ---------------------------------------------------------------------------
# round-3 late additions: published-filter batteries, sketches, HITS, shards
# ---------------------------------------------------------------------------

# deterministic decoration shared by the gopher-rule query pair: bullet-start
# for doc_id % 5 == 0, ellipsis-end for doc_id % 7 == 0 — exercises the line
# rules the plain corpus (no bullets, no ellipses) would leave degenerate.
def _decorated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "text")
    t = F.col("text")
    t = F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("- "), t)).otherwise(t)
    t = F.when(F.col("doc_id") % 7 == 0, F.concat(t, F.lit(" ..."))).otherwise(t)
    return d.select("doc_id", t.alias("text"))


_SQL_DECORATED = """
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN
      (CASE WHEN doc_id % 5 = 0 THEN '- ' || text ELSE text END) || ' ...'
    ELSE
      (CASE WHEN doc_id % 5 = 0 THEN '- ' || text ELSE text END)
    END AS text
  FROM documents
"""


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule battery (textops.gopher_rules) over the
    bullet/ellipsis-decorated corpus — pure codegen, scan speed."""
    return textops.gopher_rules(_decorated_docs(spark, sf_dir))


_GOPHER_TOKS = "regexp_split_to_array(trim(lower(text)), '\\s+')"
_GOPHER_LINES = (
    "CASE WHEN len(toks) > 0 THEN "
    "list_transform(generate_series(0, ((len(toks) + 9) // 10) - 1), "
    "i -> array_to_string(toks[i*10+1 : i*10+10], ' ')) "
    "ELSE []::varchar[] END"
)

_SQL_GOPHER_RULES = f"""
WITH d AS ({_SQL_DECORATED}),
t AS (
  SELECT doc_id, text, {_GOPHER_TOKS} AS toks,
    len(regexp_extract_all(text, '#|\\.\\.\\.|\\x{{2026}}')) AS n_sym
  FROM d
),
s AS (
  SELECT doc_id, text, toks, n_sym, {_GOPHER_LINES} AS lines,
    len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
    len(list_filter(toks,
        x -> x IN ('the','be','to','of','and','that','have','with'))) AS n_stop,
    CASE WHEN len(toks) > 0 THEN
      list_reduce(list_transform(toks, x -> length(x)::double), (a, b) -> a + b)
        / len(toks)::double ELSE 0.0::double END AS mean_len
  FROM t
),
u AS (
  SELECT doc_id, toks, n_sym, n_alpha, n_stop, mean_len, lines,
    len(list_filter(lines, l -> regexp_matches(l, '^[\\-\\*\\x{{2022}}]'))) AS n_bullet,
    len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|\\x{{2026}})$'))) AS n_ellip
  FROM s
)
SELECT doc_id,
  len(toks) AS n_words,
  round(mean_len, 6) AS mean_word_len,
  round(CASE WHEN len(toks) > 0 THEN n_sym / len(toks)::double
             ELSE 0.0::double END, 6) AS symbol_ratio,
  round(CASE WHEN len(toks) > 0 THEN n_alpha / len(toks)::double
             ELSE 0.0::double END, 6) AS frac_alpha_words,
  n_stop::bigint AS n_stop_hits,
  round(CASE WHEN len(lines) > 0 THEN n_bullet / len(lines)::double
             ELSE 0.0::double END, 6) AS frac_bullet_lines,
  round(CASE WHEN len(lines) > 0 THEN n_ellip / len(lines)::double
             ELSE 0.0::double END, 6) AS frac_ellipsis_lines,
  (len(toks) >= 50 AND len(toks) <= 100000
   AND mean_len >= 3.0::double AND mean_len <= 10.0::double
   AND (CASE WHEN len(toks) > 0 THEN n_sym / len(toks)::double
             ELSE 0.0::double END) <= 0.1::double
   AND (CASE WHEN len(lines) > 0 THEN n_bullet / len(lines)::double
             ELSE 0.0::double END) <= 0.9::double
   AND (CASE WHEN len(lines) > 0 THEN n_ellip / len(lines)::double
             ELSE 0.0::double END) <= 0.3::double
   AND (CASE WHEN len(toks) > 0 THEN n_alpha / len(toks)::double
             ELSE 0.0::double END) >= 0.8::double
   AND n_stop >= 2) AS gopher_pass
FROM u
"""


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition metrics (textops.gopher_repetition) over a corpus
    where every third document is self-concatenated (nonzero duplicate-line
    and top-bigram signals in a deterministic construction)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    t = F.when(
        F.col("doc_id") % 3 == 0, F.concat_ws(" ", "text", "text")
    ).otherwise(F.col("text"))
    return textops.gopher_repetition(d.select("doc_id", t.alias("text")))


_SQL_GOPHER_REPETITION = f"""
WITH d AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN text || ' ' || text ELSE text END AS text
  FROM documents
),
t AS (SELECT doc_id, length(text)::bigint AS n_chars, {_GOPHER_TOKS} AS toks FROM d),
b AS (SELECT doc_id, n_chars, toks, {_GOPHER_LINES} AS lines FROM t),
l AS (SELECT doc_id, unnest(lines) AS line FROM b),
pl AS (
  SELECT doc_id, md5(line) AS h, count(*) AS cnt, min(length(line)) AS llen
  FROM l GROUP BY 1, 2
),
la AS (
  SELECT doc_id, sum(cnt) AS n_lines,
    sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_lines,
    sum(cnt * llen) AS line_chars,
    sum(CASE WHEN cnt > 1 THEN cnt * llen ELSE 0 END) AS dup_line_chars
  FROM pl GROUP BY doc_id
),
bg AS (
  SELECT doc_id,
    unnest(CASE WHEN len(toks) >= 2 THEN
      list_transform(generate_series(1, len(toks) - 1),
        i -> toks[i] || ' ' || toks[i+1])
    ELSE []::varchar[] END) AS bg
  FROM b
),
pb AS (SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY 1, 2),
tb AS (
  SELECT doc_id, max(lpad(cnt::varchar, 12, '0') || ':' || bg) AS enc
  FROM pb GROUP BY doc_id
),
tb2 AS (
  SELECT doc_id, substr(enc, 1, 12)::bigint AS top_cnt,
    (length(enc) - 13)::bigint AS top_len
  FROM tb
)
SELECT b.doc_id,
  coalesce(la.n_lines, 0)::bigint AS n_lines,
  round(CASE WHEN coalesce(la.n_lines, 0) > 0
             THEN coalesce(la.dup_lines, 0) / la.n_lines::double
             ELSE 0.0::double END, 6) AS dup_line_frac,
  round(CASE WHEN coalesce(la.line_chars, 0) > 0
             THEN coalesce(la.dup_line_chars, 0) / la.line_chars::double
             ELSE 0.0::double END, 6) AS dup_line_char_frac,
  round(CASE WHEN b.n_chars > 0 AND tb2.top_cnt IS NOT NULL
             THEN (tb2.top_cnt * tb2.top_len) / b.n_chars::double
             ELSE 0.0::double END, 6) AS top_bigram_char_frac
FROM b LEFT JOIN la USING (doc_id) LEFT JOIN tb2 USING (doc_id)
"""


def q_mojibake_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage detection (textops.mojibake_stats) over a corpus
    where every third document has its 'data' tokens double-encoded
    (U+00C3 U+00A1 signature) — the deterministic mojibake injection both
    engines state identically."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    damaged = F.replace(
        F.col("text"), F.lit("data"), F.concat(F.lit("d"), F.lit("Ã¡"), F.lit("ta"))
    )
    t = F.when(F.col("doc_id") % 3 == 0, damaged).otherwise(F.col("text"))
    return textops.mojibake_stats(d.select("doc_id", t.alias("text")))


_SQL_MOJIBAKE_STATS = """
WITH d AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0
         THEN replace(text, 'data', 'd' || chr(195) || chr(161) || 'ta')
         ELSE text END AS text
  FROM documents
),
t AS (
  SELECT doc_id, length(text)::bigint AS n_chars,
    len(regexp_extract_all(text,
      '\\x{00C3}[\\x{0080}-\\x{00BF}]|\\x{00E2}[\\x{0080}-\\x{00BF}][\\x{0080}-\\x{00FF}]|\\x{00C2}[\\x{00A0}-\\x{00BF}]'
    ))::bigint AS hits
  FROM d
)
SELECT doc_id, n_chars, hits AS mojibake_hits,
  CASE WHEN n_chars > 0
       THEN round(hits * 1000.0::double / n_chars::double, 6)
       ELSE 0.0::double END AS mojibake_per_kchar,
  (hits >= 2 AND (CASE WHEN n_chars > 0
                       THEN round(hits * 1000.0::double / n_chars::double, 6)
                       ELSE 0.0::double END) > 0.5::double) AS is_mojibake
FROM t
"""


def q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced shard assignment (textops.shard_assign): hash-ordered
    layout via bucketed two-phase cumsum; the oracle states the plain
    global-window cumsum — identical result, scalable plan."""
    return textops.shard_assign(_docs(spark, sf_dir))


_SQL_SHARD_ASSIGN = f"""
WITH t AS (
  SELECT doc_id, len({_GOPHER_TOKS})::bigint AS n_tokens,
    ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint AS rank_hash
  FROM documents
),
nz AS (SELECT * FROM t WHERE n_tokens > 0),
o AS (
  SELECT doc_id, n_tokens, rank_hash,
    coalesce(sum(n_tokens) OVER (
      ORDER BY rank_hash, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint
      AS start_offset
  FROM nz
)
SELECT doc_id, n_tokens, rank_hash, start_offset,
  (start_offset // 2000)::bigint AS shard
FROM o
"""


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct sketch (dedup.hll_distinct) on the doubled
    corpus — the register-based counterpart to kmv_distinct, estimate
    unaffected by the exact duplicates."""
    return dedup.hll_distinct(_doubled_docs(spark, sf_dir))


_SQL_HLL_DISTINCT = """
WITH d2 AS (
  SELECT text FROM documents
  UNION ALL SELECT text FROM documents
),
h AS (SELECT ('0x' || substr(md5(text), 1, 15))::bigint AS h FROM d2),
r AS (
  SELECT h % 256 AS reg,
    CASE WHEN h // 256 > 0 THEN 53 - length(bin(h // 256)) ELSE 53 END AS rank
  FROM h
),
regs AS (SELECT reg, max(rank) AS mx FROM r GROUP BY reg),
s AS (
  SELECT count(*)::bigint AS n_present,
    sum((1::bigint << (53 - mx)))::bigint AS s_present
  FROM regs
),
e AS (
  SELECT n_present, (256 - n_present)::bigint AS zeros,
    (s_present + (256 - n_present) * (1::bigint << 53))::double
      / 9007199254740992.0::double AS z
  FROM s
),
f AS (
  SELECT n_present, zeros,
    (0.7213::double / (1.0::double + 1.079::double / 256.0::double)
     * 256.0::double * 256.0::double) / z AS e_raw
  FROM e
)
SELECT 256::bigint AS m, n_present AS n_registers_set,
  floor(CASE WHEN e_raw <= 640.0::double AND zeros > 0
             THEN 256.0::double * ln(256.0::double / zeros::double)
             ELSE e_raw END)::bigint AS est_distinct
FROM f
"""


def q_hll_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group HLL (dedup.hll_distinct_by): distinct texts per source —
    the distinct-pages-per-host dashboard query without the exact distinct
    shuffle. Small groups exercise the linear-counting branch."""
    return dedup.hll_distinct_by(_docs(spark, sf_dir), "source", "text")


_SQL_HLL_BY_SOURCE = """
WITH h AS (
  SELECT source, ('0x' || substr(md5(text), 1, 15))::bigint AS h FROM documents
),
r AS (
  SELECT source, h % 256 AS reg,
    CASE WHEN h // 256 > 0 THEN 53 - length(bin(h // 256)) ELSE 53 END AS rank
  FROM h
),
regs AS (SELECT source, reg, max(rank) AS mx FROM r GROUP BY 1, 2),
s AS (
  SELECT source, count(*)::bigint AS n_present,
    sum((1::bigint << (53 - mx)))::bigint AS s_present
  FROM regs GROUP BY source
),
e AS (
  SELECT source, n_present, (256 - n_present)::bigint AS zeros,
    (s_present + (256 - n_present) * (1::bigint << 53))::double
      / 9007199254740992.0::double AS z
  FROM s
),
f AS (
  SELECT source, n_present, zeros,
    (0.7213::double / (1.0::double + 1.079::double / 256.0::double)
     * 256.0::double * 256.0::double) / z AS e_raw
  FROM e
)
SELECT source, n_present AS n_registers_set,
  floor(CASE WHEN e_raw <= 640.0::double AND zeros > 0
             THEN 256.0::double * ln(256.0::double / zeros::double)
             ELSE e_raw END)::bigint AS est_distinct
FROM f
"""


def q_host_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration HITS hub/authority scores (graph.hits) over the same
    deterministic host graph as q_host_pagerank."""
    from ..operators import graph

    return graph.hits(_host_graph_edges(spark, sf_dir))


def _sql_host_hits(iters: int = 3) -> str:
    """Unrolled HITS oracle sharing the host-graph CTEs with the pagerank
    oracle's construction (same edge formula, same 12-dp/DECIMAL contract)."""
    parts = [
        """
WITH hosts AS (SELECT DISTINCT source FROM documents),
e AS (
  SELECT source AS src,
    'src' || ((regexp_replace(source, '^src', '')::int * regexp_replace(source, '^src', '')::int + 1) % 20) AS dst
  FROM hosts
  UNION
  SELECT source,
    'src' || ((regexp_replace(source, '^src', '')::int * 3 + 1) % 20)
  FROM hosts
),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
h0 AS (SELECT node, 1.0::double AS score FROM nodes)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
ac{i} AS (
  SELECT e.dst AS node, round(h.score, 12)::decimal(28,12) AS c
  FROM e JOIN h{i-1} h ON e.src = h.node
),
asum{i} AS (SELECT node, sum(c) AS s FROM ac{i} GROUP BY node),
a{i} AS (
  SELECT nodes.node, coalesce(s::double, 0.0::double) AS score
  FROM nodes LEFT JOIN asum{i} USING (node)
),
hc{i} AS (
  SELECT e.src AS node, round(a.score, 12)::decimal(28,12) AS c
  FROM e JOIN a{i} a ON e.dst = a.node
),
hsum{i} AS (SELECT node, sum(c) AS s FROM hc{i} GROUP BY node),
h{i} AS (
  SELECT nodes.node, coalesce(s::double, 0.0::double) AS score
  FROM nodes LEFT JOIN hsum{i} USING (node)
)"""
        )
    parts.append(
        f""",
ht AS (SELECT sum(round(score, 12)::decimal(28,12)) AS t FROM h{iters}),
at AS (SELECT sum(round(score, 12)::decimal(28,12)) AS t FROM a{iters})
SELECT h{iters}.node,
  floor(h{iters}.score / ht.t::double * 1000000000.0::double)::bigint AS hub_nano,
  floor(a{iters}.score / at.t::double * 1000000000.0::double)::bigint AS auth_nano
FROM h{iters} JOIN a{iters} USING (node) CROSS JOIN ht CROSS JOIN at
"""
    )
    return "".join(parts).lstrip()


_BM25_TERMS = ["data", "merge", "spark", "window"]


def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval (textops.bm25_scores) for a bounded
    4-term query over the corpus."""
    return textops.bm25_scores(_docs(spark, sf_dir), _BM25_TERMS)


_SQL_BM25_SCORES = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
b AS (
  SELECT doc_id, len(toks)::bigint AS dl,
    list_filter(toks, x -> x IN ('data','merge','spark','window')) AS hits
  FROM t
),
tot AS (
  SELECT count(*)::bigint AS n_docs, sum(dl::decimal(28,0)) AS sum_dl FROM b
),
m AS (SELECT doc_id, dl, unnest(hits) AS term FROM b WHERE len(hits) > 0),
tf AS (SELECT doc_id, dl, term, count(*)::bigint AS tf FROM m GROUP BY 1, 2, 3),
dfq AS (SELECT term, count(*)::bigint AS df FROM tf GROUP BY term),
sc AS (
  SELECT doc_id, dl,
    ln((n_docs - df + 0.5::double) / (df + 0.5::double) + 1.0::double)
      * (tf * 2.2::double)
      / (tf + 1.2::double
           * (0.25::double + 0.75::double * dl
              / (sum_dl::double / n_docs::double))) AS part
  FROM tf JOIN dfq USING (term) CROSS JOIN tot
)
SELECT doc_id, count(*)::bigint AS n_terms_matched, dl,
  floor(sum(round(part, 12)::decimal(28,12))::double * 1000000.0::double)::bigint
    AS score_micro
FROM sc GROUP BY doc_id, dl
"""


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (textops.pmi_collocations): top-50 adjacent
    token pairs by pointwise mutual information, min pair count 5."""
    return textops.pmi_collocations(_docs(spark, sf_dir))


_SQL_PMI_COLLOCATIONS = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
uni AS (
  SELECT x AS term, count(*)::bigint AS c
  FROM (SELECT unnest(toks) AS x FROM t) GROUP BY x
),
bi AS (
  SELECT unnest(CASE WHEN len(toks) >= 2 THEN
      list_transform(generate_series(1, len(toks) - 1),
        i -> toks[i] || chr(9) || toks[i+1])
    ELSE []::varchar[] END) AS p
  FROM t
),
pairs AS (
  SELECT split_part(p, chr(9), 1) AS a, split_part(p, chr(9), 2) AS b,
    count(*)::bigint AS c_ab
  FROM bi GROUP BY 1, 2 HAVING count(*) >= 5
),
tt AS (
  SELECT sum(greatest(len(toks) - 1, 0)::decimal(28,0)) AS t FROM t
)
SELECT pairs.a || ' ' || pairs.b AS bigram, c_ab, ua.c AS c_a, ub.c AS c_b,
  floor(ln((c_ab * tt.t::double) / (ua.c::double * ub.c::double))
        * 1000000.0::double)::bigint AS pmi_micro
FROM pairs
JOIN uni ua ON pairs.a = ua.term
JOIN uni ub ON pairs.b = ub.term
CROSS JOIN tt
ORDER BY pmi_micro DESC, bigram ASC
LIMIT 50
"""


def q_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning-rule battery (textops.c4_filters) over a deterministically
    decorated corpus: periods injected before 'merge' tokens (sentences),
    brace / lorem-ipsum / javascript markers appended by doc_id residue —
    every rule exercised, both engines state the same construction."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    t = F.replace(F.col("text"), F.lit(" merge"), F.lit(". merge"))
    t = F.when(F.col("doc_id") % 17 == 0, F.concat(t, F.lit(" {x}"))).otherwise(t)
    t = F.when(
        F.col("doc_id") % 31 == 0, F.concat(t, F.lit(" lorem ipsum"))
    ).otherwise(t)
    t = F.when(
        F.col("doc_id") % 13 == 0, F.concat(t, F.lit(" javascript"))
    ).otherwise(t)
    return textops.c4_filters(d.select("doc_id", t.alias("text")))


_SQL_C4_FILTERS = f"""
WITH d0 AS (
  SELECT doc_id, replace(text, ' merge', '. merge') AS text FROM documents
),
d1 AS (
  SELECT doc_id,
    CASE WHEN doc_id % 17 = 0 THEN text || ' {{x}}' ELSE text END AS text
  FROM d0
),
d2 AS (
  SELECT doc_id,
    CASE WHEN doc_id % 31 = 0 THEN text || ' lorem ipsum' ELSE text END AS text
  FROM d1
),
d AS (
  SELECT doc_id,
    CASE WHEN doc_id % 13 = 0 THEN text || ' javascript' ELSE text END AS text
  FROM d2
),
t AS (
  SELECT doc_id, text, lower(text) AS lc, {_TOKS} AS toks,
    len(regexp_extract_all(text, '[.!?]')) AS n_sent
  FROM d
),
s AS (SELECT doc_id, text, lc, toks, n_sent, {_GOPHER_LINES} AS lines FROM t),
u AS (
  SELECT doc_id, n_sent, lines, toks,
    len(list_filter(lines, l -> regexp_matches(l, '[.!?"]$'))) AS n_term,
    contains(text, '{{') AS has_brace,
    contains(lc, 'lorem ipsum') AS has_lorem,
    list_contains(toks, 'javascript') AS has_js
  FROM s
)
SELECT doc_id,
  len(lines) AS n_lines,
  round(CASE WHEN len(lines) > 0 THEN n_term / len(lines)::double
             ELSE 0.0::double END, 6) AS frac_terminal_lines,
  n_sent::bigint AS n_sentences,
  has_brace,
  has_lorem AS has_lorem,
  has_js AS has_javascript,
  (n_sent >= 3 AND NOT has_brace AND NOT has_lorem AND NOT has_js) AS c4_keep
FROM u
"""


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-3 capstone composition — the full curation path a training
    corpus ships through, each stage a registry operator in its own right:

      doubled corpus (dup-heavy crawl stand-in)
        -> Gopher rule gate (word count / stopwords / alpha fraction)
           + language allowlist
        -> exact-dedup representatives (sha2 min-id)
        -> benchmark decontamination gate (3-gram overlap <= 0.05)
        -> token-balanced shard assignment (the writer layout)

    Scale shape: every join is a shuffle_hash semi/equi join on doc_id or a
    map-side-combined groupBy; the only broadcasts are the bounded benchmark
    shingle set (inside benchmark_contamination) and shard_assign's
    <=1024-row bucket-offset table.
    """
    from ..operators import dedup as _dd

    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    d2 = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 100000))
    g = textops.gopher_rules(d2).select(
        "doc_id", "n_words", "n_stop_hits", "frac_alpha_words"
    )
    kept = d2.join(g.hint("shuffle_hash"), "doc_id").where(
        (F.col("n_words") >= 50)
        & (F.col("n_stop_hits") >= 2)
        & (F.col("frac_alpha_words") >= 0.8)
        & F.col("lang").isin("en", "zh", "de")
    )
    reps = _dd.exact_dups(kept).select(F.col("representative").alias("doc_id"))
    kept2 = kept.join(reps.hint("shuffle_hash"), "doc_id", "semi")
    bench = docs.where(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    clean_ids = (
        _dd.benchmark_contamination(kept2.select("doc_id", "text"), bench)
        .where(F.col("contamination") <= 0.05)
        .select("doc_id")
    )
    survivors = kept2.join(clean_ids.hint("shuffle_hash"), "doc_id", "semi")
    return textops.shard_assign(survivors, tokens_per_shard=2000)


_SQL_CURATION_PIPELINE = f"""
WITH d0 AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL SELECT doc_id + 100000, text, lang FROM documents
),
t AS (SELECT doc_id, text, lang, {_GOPHER_TOKS} AS toks FROM d0),
g AS (
  SELECT doc_id, text, lang, toks, len(toks) AS n_words,
    len(list_filter(toks,
        x -> x IN ('the','be','to','of','and','that','have','with'))) AS n_stop,
    len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha
  FROM t
),
kept AS (
  SELECT * FROM g
  WHERE n_words >= 50 AND n_stop >= 2
    AND round(CASE WHEN n_words > 0 THEN n_alpha / n_words::double
                   ELSE 0.0::double END, 6) >= 0.8::double
    AND lang IN ('en', 'zh', 'de')
),
reps AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY sha256(text)),
kept2 AS (SELECT k.* FROM kept k JOIN reps USING (doc_id)),
bt AS (SELECT doc_id, {_GOPHER_TOKS} AS toks FROM documents WHERE doc_id % 97 = 0),
bsh AS (
  SELECT DISTINCT unnest({_SHINGLES_SQL}) AS s FROM bt
),
csh AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM kept2),
agg AS (
  SELECT doc_id, count(*) AS n_shingles,
    sum(CASE WHEN s IN (SELECT s FROM bsh) THEN 1 ELSE 0 END) AS n_matched
  FROM csh GROUP BY doc_id
),
clean AS (
  SELECT doc_id FROM agg
  WHERE round(n_matched / n_shingles::double, 6) <= 0.05::double
),
nz AS (
  SELECT k.doc_id, len(k.toks)::bigint AS n_tokens,
    ('0x' || substr(md5(k.doc_id::varchar), 1, 15))::bigint AS rank_hash
  FROM kept2 k JOIN clean USING (doc_id)
  WHERE len(k.toks) > 0
),
o AS (
  SELECT doc_id, n_tokens, rank_hash,
    coalesce(sum(n_tokens) OVER (
      ORDER BY rank_hash, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint
      AS start_offset
  FROM nz
)
SELECT doc_id, n_tokens, rank_hash, start_offset,
  (start_offset // 2000)::bigint AS shard
FROM o
"""


# script tails appended deterministically so the all-ASCII synthetic corpus
# exercises every script class; ONE source of truth for Spark and the oracle
_SCRIPT_TAILS: tuple[tuple[str, str], ...] = (
    ("zh_lang", " 数据处理系统"),  # Han
    ("mod11", " Привет"),  # Cyrillic
    ("mod13", " αβγ"),  # Greek
    ("mod17", " مرحبا"),  # Arabic
)


def _script_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    tails = dict(_SCRIPT_TAILS)
    t = F.col("text")
    t = F.when(
        F.col("lang") == "zh", F.concat(t, F.lit(tails["zh_lang"]))
    ).otherwise(t)
    t = F.when(
        F.col("doc_id") % 11 == 0, F.concat(t, F.lit(tails["mod11"]))
    ).otherwise(t)
    t = F.when(
        F.col("doc_id") % 13 == 0, F.concat(t, F.lit(tails["mod13"]))
    ).otherwise(t)
    t = F.when(
        F.col("doc_id") % 17 == 0, F.concat(t, F.lit(tails["mod17"]))
    ).otherwise(t)
    return d.select("doc_id", t.alias("text"))


def _sql_script_docs() -> str:
    tails = dict(_SCRIPT_TAILS)
    return f"""
  SELECT doc_id,
    (CASE WHEN lang = 'zh' THEN text || '{tails["zh_lang"]}' ELSE text END)
    || (CASE WHEN doc_id % 11 = 0 THEN '{tails["mod11"]}' ELSE '' END)
    || (CASE WHEN doc_id % 13 = 0 THEN '{tails["mod13"]}' ELSE '' END)
    || (CASE WHEN doc_id % 17 = 0 THEN '{tails["mod17"]}' ELSE '' END) AS text
  FROM documents
"""


def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script histogram (textops.script_mix) over the script-
    decorated corpus: per-doc Latin/Han/Cyrillic/Greek/Arabic counts,
    dominant script, Latin ratio — scan-speed codegen, no shuffle."""
    return textops.script_mix(_script_docs(spark, sf_dir))


def _sql_script_mix() -> str:
    from ..operators.textops import SCRIPT_CLASSES

    counts = ",\n    ".join(
        f"len(regexp_extract_all(text, '{re2}'))::bigint AS n_{name}"
        for name, _, re2 in SCRIPT_CLASSES
    )
    names = [name for name, _, _ in SCRIPT_CLASSES]
    dom = "'none'"
    for i in range(len(names) - 1, -1, -1):
        conds = [f"n_{names[i]} > 0"] + [
            f"n_{names[i]} >= n_{other}" for other in names[i + 1 :]
        ]
        dom = f"CASE WHEN {' AND '.join(conds)} THEN '{names[i]}' ELSE {dom} END"
    return f"""
WITH d AS ({_sql_script_docs()}),
c AS (
  SELECT doc_id, length(text)::bigint AS n_chars,
    {counts}
  FROM d
)
SELECT doc_id, n_chars, n_latin, n_han, n_cyrillic, n_greek, n_arabic,
  {dom} AS dominant_script,
  CASE WHEN n_chars > 0
       THEN floor(n_latin * 1000000 / n_chars)::bigint END AS latin_ratio_micro
FROM c
"""


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency regression (textops.zipf_fit) over the corpus
    top-64 vocabulary — one-row corpus health gauge."""
    return textops.zipf_fit(_docs(spark, sf_dir))


_SQL_ZIPF_FIT = f"""
WITH e AS (SELECT unnest({_TOKS}) AS term FROM documents),
top AS (
  SELECT term, count(*) AS cnt FROM e GROUP BY 1
  ORDER BY cnt DESC, term LIMIT 64
),
ranked AS (
  SELECT row_number() OVER (ORDER BY cnt DESC, term) AS rank, cnt FROM top
),
xy AS (
  SELECT round(ln(rank::double), 6)::decimal(12,6) AS x,
         round(ln(cnt::double), 6)::decimal(12,6) AS y
  FROM ranked
),
s AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM xy
)
SELECT n::bigint AS n_terms,
  floor(((n * sxy - sx * sy)::double / (n * sxx - sx * sx)::double)
        * 1000000.0)::bigint AS slope_micro,
  floor(((sy::double - ((n * sxy - sx * sy)::double
                        / (n * sxx - sx * sx)::double) * sx::double) / n)
        * 1000000.0)::bigint AS intercept_micro
FROM s
"""


def q_collapse_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-duplicate line collapse (textops.collapse_repeated_lines)
    over a stutter-decorated corpus: every 4th doc gets its first sentence
    tripled on consecutive lines."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    first_sent = F.substring_index(F.col("text"), " ", 5)
    t = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat_ws(
            "\n", first_sent, first_sent, first_sent, F.col("text")
        ),
    ).otherwise(F.col("text"))
    return textops.collapse_repeated_lines(d.select("doc_id", t.alias("text")))


_SQL_COLLAPSE_LINES = r"""
WITH d AS (
  SELECT doc_id,
    CASE WHEN doc_id % 4 = 0 THEN
      array_to_string([f, f, f, text], chr(10))
    ELSE text END AS text
  FROM (
    SELECT doc_id, text,
      array_to_string(string_split(text, ' ')[1:5], ' ') AS f
    FROM documents
  )
),
a AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM d),
k AS (
  SELECT doc_id, text, lines, len(lines) AS n,
    list_filter(generate_series(1, len(lines)),
      i -> i = 1 OR lines[i] != lines[i - 1]) AS keep_idx
  FROM a
)
SELECT doc_id, text,
  array_to_string(list_transform(keep_idx, i -> lines[i]), chr(10)) AS cleaned,
  n::bigint AS n_lines,
  (n - len(keep_idx))::bigint AS n_removed
FROM k
"""


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc out-of-vocabulary rate vs the corpus top-100 vocabulary
    (textops.oov_rate): deterministic top-K, broadcast-legit vocab."""
    return textops.oov_rate(_docs(spark, sf_dir))


_SQL_OOV_RATE = f"""
WITH e AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
vocab AS (
  SELECT term FROM (
    SELECT term, count(*) AS cnt FROM e GROUP BY 1
    ORDER BY cnt DESC, term LIMIT 100
  )
),
pd AS (
  SELECT e.doc_id, count(*) AS n_tokens,
    sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS n_oov
  FROM e LEFT JOIN vocab v USING (term) GROUP BY 1
)
SELECT d.doc_id, coalesce(pd.n_tokens, 0)::bigint AS n_tokens,
  coalesce(pd.n_oov, 0)::bigint AS n_oov,
  CASE WHEN pd.n_tokens IS NOT NULL
       THEN floor(pd.n_oov * 1000000 / pd.n_tokens)::bigint
  END AS oov_ratio_micro
FROM documents d LEFT JOIN pd USING (doc_id)
"""


def q_html_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-entity decode (textops.decode_html_entities) over the entity-
    decorated corpus — the '&amp;lt;' double-escape must resolve ONE level
    (to '&lt;'), which pins the replace order."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    t = F.col("text")
    t = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.lit("Tom &amp; Jerry &lt;3 "), t),
    ).otherwise(t)
    t = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(t, F.lit(" &amp;lt; &quot;q&quot; x&nbsp;y")),
    ).otherwise(t)
    return textops.decode_html_entities(d.select("doc_id", t.alias("text")))


def _sql_html_entities() -> str:
    from ..operators.textops import HTML_ENTITIES

    decoded = "text"
    for ent, ch in HTML_ENTITIES:
        ch_sql = ch.replace("'", "''")
        decoded = f"replace({decoded}, '{ent}', '{ch_sql}')"
    return f"""
WITH d AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 3 = 0 THEN 'Tom &amp; Jerry &lt;3 ' || text
          ELSE text END)
    || (CASE WHEN doc_id % 7 = 0 THEN ' &amp;lt; &quot;q&quot; x&nbsp;y'
             ELSE '' END) AS text
  FROM documents
)
SELECT doc_id, text, {decoded} AS decoded,
  (length(text) - length({decoded}))::bigint AS n_chars_saved
FROM d
"""


def q_robots_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap: directive extraction (urls.parse_robots_sitemaps) — group-
    independent per RFC 9309 §2.3: one lowercase indented declaration
    BEFORE any section, one canonical declaration appended after (written
    twice — distinct collapses repeats)."""
    from ..operators import urls as urlops

    robots = _synth_robots_df(spark, sf_dir)
    body = F.concat(
        F.lit("  sitemap: https://"), F.col("host"), F.lit("/news.xml\n"),
        F.col("robots_txt"),
        F.lit("\nSitemap: https://"), F.col("host"), F.lit("/sitemap.xml"),
        F.lit("\nSitemap: https://"), F.col("host"), F.lit("/sitemap.xml"),
    )
    return urlops.parse_robots_sitemaps(
        robots.select("host", body.alias("robots_txt"))
    )


_SQL_ROBOTS_SITEMAPS = """
WITH hosts AS (SELECT DISTINCT source || '.example.com' AS host FROM documents)
SELECT host, 'https://' || host || '/news.xml' AS sitemap_url FROM hosts
UNION ALL
SELECT host, 'https://' || host || '/sitemap.xml' FROM hosts
"""


def q_lang_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-majority language consistency: per-source majority lang via the
    string-encoded argmax (count desc, lang asc tiebreak — no window), docs
    deviating from their host's majority flagged — the hreflang-mismatch
    curation signal."""
    d = _docs(spark, sf_dir).select("doc_id", "source", "lang")
    counts = d.groupBy("source", "lang").agg(F.count("*").alias("cnt"))
    # string-encoded argmin: min over (inverted zero-padded count)||lang
    # gives count DESC with lang ASC tiebreak in one mergeable aggregate
    inv = F.concat(
        F.lpad((F.lit(9_999_999_999) - F.col("cnt")).cast("string"), 10, "0"),
        F.lit("|"),
        F.col("lang"),
    )
    maj = counts.groupBy("source").agg(
        F.substring_index(F.min(inv), "|", -1).alias("majority_lang")
    )
    return (
        d.join(maj.hint("shuffle_hash"), "source")
        .select(
            "doc_id",
            "source",
            "lang",
            "majority_lang",
            (F.col("lang") != F.col("majority_lang")).cast("int").alias(
                "is_minority"
            ),
        )
    )


_SQL_LANG_CONSISTENCY = """
WITH c AS (SELECT source, lang, count(*) AS cnt FROM documents GROUP BY 1, 2),
inv AS (
  SELECT source,
    lpad((9999999999 - cnt)::varchar, 10, '0') || '|' || lang AS k
  FROM c
),
maj AS (
  SELECT source,
    string_split(min(k), '|')[-1] AS majority_lang
  FROM inv GROUP BY 1
)
SELECT d.doc_id, d.source, d.lang, maj.majority_lang,
  (d.lang != maj.majority_lang)::int AS is_minority
FROM documents d JOIN maj USING (source)
"""


def q_host_mirrors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-mirror detection (dedup.host_mirror_pairs): sources src0-src4
    get FULL planted mirrors (jaccard 1.0, must flag), src5-src9 get
    half mirrors (jaccard ~0.5 — may or may not band-collide; the oracle
    replays the identical deterministic computation either way)."""
    d = _docs(spark, sf_dir).select("doc_id", "source", "text")
    k = F.regexp_replace(F.col("source"), "^src", "").cast("int")
    base = d.select(F.col("source").alias("host"), "text")
    full_m = d.where(k < 5).select(
        F.concat(F.lit("mirror"), k.cast("string")).alias("host"), "text"
    )
    # doc_id parity is CONSTANT within a source (round-robin ids), so the
    # half plant cuts on doc_id % 40 < 20 instead — true alternating halves
    half_m = d.where((k >= 5) & (k < 10) & (F.col("doc_id") % 40 < 20)).select(
        F.concat(F.lit("pmirror"), k.cast("string")).alias("host"), "text"
    )
    pages = base.unionByName(full_m).unionByName(half_m)
    return dedup.host_mirror_pairs(pages)


def _sql_host_mirrors(num_hashes: int = 8, bands: int = 4) -> str:
    # mirrors dedup.host_mirror_pairs: grouped min-aggregate signatures over
    # distinct (host, content-hash), band-bucket pair join, exact set-jaccard
    p = dedup.MINHASH_P
    rows = num_hashes // bands
    mins = ",\n    ".join(
        f"min(({a}::bigint * h + {b}::bigint) % {p}::bigint) AS mh_{i}"
        for i, (a, b) in enumerate(dedup.MINHASH_COEFFS[:num_hashes])
    )
    band_selects = "\n  UNION ALL ".join(
        f"SELECT host, n_docs, {b} AS band, md5("
        + " || '|' || ".join(f"mh_{b * rows + r}::varchar" for r in range(rows))
        + ") AS bucket FROM sig"
        for b in range(bands)
    )
    return f"""
WITH k AS (
  SELECT doc_id, regexp_replace(source, '^src', '')::int AS kk, source, text
  FROM documents
),
pages AS (
  SELECT source AS host, text FROM k
  UNION ALL
  SELECT 'mirror' || kk, text FROM k WHERE kk < 5
  UNION ALL
  SELECT 'pmirror' || kk, text FROM k
  WHERE kk >= 5 AND kk < 10 AND doc_id % 40 < 20
),
hs AS (
  SELECT DISTINCT host, ('0x' || substr(md5(text), 1, 7))::bigint AS h
  FROM pages
),
sig AS (
  SELECT host, count(*) AS n_docs,
    {mins}
  FROM hs GROUP BY host
),
bb AS ({band_selects}),
cand AS (
  SELECT DISTINCT l.host AS host_a, l.n_docs AS n_a,
    r.host AS host_b, r.n_docs AS n_b
  FROM bb l JOIN bb r
    ON l.band = r.band AND l.bucket = r.bucket AND l.host < r.host
),
inter AS (
  SELECT c.host_a, c.host_b, count(*) AS n_common
  FROM cand c
  JOIN hs a ON a.host = c.host_a
  JOIN hs b ON b.host = c.host_b AND b.h = a.h
  GROUP BY 1, 2
)
SELECT c.host_a, c.host_b, c.n_a::bigint AS n_a, c.n_b::bigint AS n_b,
  coalesce(i.n_common, 0)::bigint AS n_common,
  coalesce((i.n_common * 1000000) // (c.n_a + c.n_b - i.n_common), 0)::bigint
    AS jaccard_micro,
  (coalesce((i.n_common * 1000000) // (c.n_a + c.n_b - i.n_common), 0)
   >= 500000)::int AS is_mirror
FROM cand c LEFT JOIN inter i USING (host_a, host_b)
"""


def q_warc_http_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-layer Common-Crawl record parse (warc.parse_http_response):
    WARC envelope -> HTTP/1.1 message -> (status, content-type, charset,
    body) — 404s and charset-less responses planted deterministically."""
    from ..sources.warc import parse_http_response, parse_warc_records
    from ..sources.warc import synthesize_warc_http_df

    recs = synthesize_warc_http_df(spark, sf_dir)
    parsed = parse_http_response(parse_warc_records(recs))
    return parsed.select(
        "url",
        "status_code",
        "content_type",
        "charset",
        F.length("body").cast("long").alias("body_chars"),
        F.conv(F.substring(F.md5("body"), 1, 7), 16, 10)
        .cast("bigint")
        .alias("body_h"),
    )


_SQL_WARC_HTTP_PARSE = """
WITH pages AS (
  SELECT doc_id,
    'https://' || source || '.example.com/' || lang || '/' || doc_id AS url,
    '<html><head><meta charset="utf-8"><title>Synthetic page</title>'
    || '<script>var t=1;</script></head><body>'
    || '<nav><a href="/">Home</a> <a href="/about">About</a> '
    || '<a href="/contact">Contact</a></nav>'
    || '<div><a href="/promo">Big promo sale click here now</a></div>'
    || '<main><p>' || text || '</p></main>'
    || '<footer><a href="/privacy">Privacy</a> <a href="/terms">Terms</a></footer>'
    || '</body></html>' AS h
  FROM documents
)
SELECT url,
  CASE WHEN doc_id % 19 = 0 THEN 404 ELSE 200 END AS status_code,
  'text/html' AS content_type,
  CASE WHEN doc_id % 5 = 0 THEN NULL ELSE 'utf-8' END AS charset,
  length(h)::bigint AS body_chars,
  ('0x' || substr(md5(h), 1, 7))::bigint AS body_h
FROM pages
"""


def q_link_farms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-link farm detection (graph.reciprocal_links) over the
    deterministic host graph shared with host_pagerank."""
    from ..operators import graph

    return graph.reciprocal_links(_host_graph_edges(spark, sf_dir))


_SQL_LINK_FARMS = """
WITH hosts AS (SELECT DISTINCT source FROM documents),
e0 AS (
  SELECT source AS src,
    'src' || ((regexp_replace(source, '^src', '')::int
               * regexp_replace(source, '^src', '')::int + 1) % 20) AS dst
  FROM hosts
  UNION
  SELECT source,
    'src' || ((regexp_replace(source, '^src', '')::int * 3 + 1) % 20)
  FROM hosts
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src != dst),
mutual AS (
  SELECT e.src, e.dst FROM e
  WHERE EXISTS (SELECT 1 FROM e r WHERE r.src = e.dst AND r.dst = e.src)
),
oc AS (SELECT src, count(*) AS n_out FROM e GROUP BY 1),
mc AS (SELECT src, count(*) AS n_mutual FROM mutual GROUP BY 1)
SELECT oc.src AS host, oc.n_out::bigint AS n_out,
  coalesce(mc.n_mutual, 0)::bigint AS n_mutual,
  coalesce((mc.n_mutual * 1000000) // oc.n_out, 0)::bigint
    AS mutual_ratio_micro,
  (oc.n_out >= 1 AND
   coalesce((mc.n_mutual * 1000000) // oc.n_out, 0) >= 500000)::int
    AS is_link_farm
FROM oc LEFT JOIN mc USING (src)
"""


def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL drift vs the corpus (sampling.source_kl_divergence):
    plug-in estimate over 1024 hashed-token buckets — the mixture-
    monitoring dual of dsir_weights."""
    from ..operators import sampling

    return sampling.source_kl_divergence(_docs(spark, sf_dir))


# mirrors sampling.source_kl_divergence: md5-bucket dists, add-1 smoothing,
# round(ln,12) decimal terms weighted by observed counts, floor-micro emit
_SQL_SOURCE_DIVERGENCE = """
WITH ex AS (
  SELECT source AS grp,
    ('0x' || substr(md5(unnest(regexp_split_to_array(trim(lower(text)),
      '\\s+'))), 1, 7))::bigint % 1024 AS bucket
  FROM documents
),
gb AS (SELECT grp, bucket, count(*) AS s_gb FROM ex GROUP BY 1, 2),
corpus AS (SELECT bucket, count(*) AS c_b FROM ex GROUP BY 1),
tot AS (SELECT sum(c_b) AS n_c FROM corpus),
clog AS (
  SELECT bucket,
    round(ln((c_b + 1) / (n_c + 1024)::double), 12)::decimal(20,12) AS lnc
  FROM corpus CROSS JOIN tot
),
totals AS (SELECT grp, sum(s_gb) AS n_g FROM gb GROUP BY 1),
agg AS (
  SELECT gb.grp, max(totals.n_g) AS n_tokens,
    sum(gb.s_gb::decimal(18,0) * (
      round(ln((gb.s_gb + 1) / (totals.n_g + 1024)::double), 12)::decimal(20,12)
      - clog.lnc)) AS s
  FROM gb JOIN totals USING (grp) JOIN clog USING (bucket)
  GROUP BY gb.grp
)
SELECT grp AS source, n_tokens::bigint AS n_tokens,
  floor(s::double / n_tokens * 1000000.0)::bigint AS kl_micro
FROM agg
"""


def q_wet_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET serialization of the FLAGSHIP pipeline output (warc.wet_records):
    run the full extraction over the synthesized pages, then emit Common-
    Crawl conversion records. The oracle reconstructs the byte-exact record
    from the golden text contract (whitespace-collapsed trim), so this one
    query gates extraction text, sha256 digest, octet length and date
    formatting end to end."""
    from ..sources.warc import wet_records

    out = run_extraction(synthesize_pages_df(_utc(spark), sf_dir))
    return wet_records(out)  # extraction output carries warc_ts lineage


_SQL_WET_RECORDS = r"""
WITH x AS (
  SELECT 'https://' || source || '.example.com/' || lang || '/' || doc_id AS url,
    make_timestamp((1704067200 + doc_id) * 1000000) AS ts,
    trim(regexp_replace(text, '\s+', ' ', 'g')) AS t
  FROM documents
)
SELECT url,
  'WARC/1.0' || chr(13) || chr(10)
  || 'WARC-Type: conversion' || chr(13) || chr(10)
  || 'WARC-Target-URI: ' || url || chr(13) || chr(10)
  || 'WARC-Date: ' || strftime(ts, '%Y-%m-%dT%H:%M:%SZ') || chr(13) || chr(10)
  || 'WARC-Block-Digest: sha256:' || sha256(t) || chr(13) || chr(10)
  || 'Content-Type: text/plain' || chr(13) || chr(10)
  || 'Content-Length: ' || octet_length(encode(t))
  || chr(13) || chr(10) || chr(13) || chr(10) || t AS record
FROM x
"""


def q_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity gate (composition): lm_scores NLL per doc,
    EXACT per-language p90 threshold via the bounded distribution sketch
    (grouped_quantiles machinery), keep docs at or below their language's
    p90. Unscorable docs (< 2 chars) are excluded by contract. The
    threshold table is language-sized — one of the few legitimately
    broadcast-able frames in the repo."""
    d = _docs(spark, sf_dir)
    scored = (
        textops.lm_scores(d)
        .where(F.col("nll_micro").isNotNull())
        .join(d.select("doc_id", "lang").hint("shuffle_hash"), "doc_id")
    )
    thr = relational.grouped_quantiles(
        scored, "lang", "nll_micro", qs_ppm=(900000,)
    ).select(F.col("lang"), F.col("q_900000").alias("p90_nll_micro"))
    return scored.join(F.broadcast(thr), "lang").select(
        "doc_id",
        "lang",
        "nll_micro",
        "p90_nll_micro",
        (F.col("nll_micro") <= F.col("p90_nll_micro")).cast("int").alias("keep"),
    )


_SQL_PERPLEXITY_FILTER = f"""
WITH lm AS ({_SQL_LM_SCORES}),
j AS (
  SELECT lm.doc_id, d.lang, lm.nll_micro
  FROM lm JOIN documents d USING (doc_id)
  WHERE lm.nll_micro IS NOT NULL
),
dist AS (SELECT lang, nll_micro AS val, count(*) AS cnt FROM j GROUP BY 1, 2),
cum AS (
  SELECT lang, val,
    sum(cnt) OVER (PARTITION BY lang ORDER BY val) AS cum,
    sum(cnt) OVER (PARTITION BY lang) AS n
  FROM dist
),
thr AS (
  SELECT lang,
    min(CASE WHEN cum >= (900000 * n + 999999) // 1000000 THEN val END)::bigint
      AS p90_nll_micro
  FROM cum GROUP BY lang
)
SELECT j.doc_id, j.lang, j.nll_micro, thr.p90_nll_micro,
  (j.nll_micro <= thr.p90_nll_micro)::int AS keep
FROM j JOIN thr USING (lang)
"""


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge training (textops.bpe_train_merges): the first 3 learned
    merge rules over the corpus vocabulary — iterative pair-count/argmax/
    fold rounds on the bounded word-frequency table."""
    return textops.bpe_train_merges(_docs(spark, sf_dir), n_merges=3)


def _sql_bpe_ctes(n_merges: int = 3) -> str:
    # mirrors textops.bpe_train_merges round by round: vocab pair counts,
    # top-1 by (cnt DESC, a, b), greedy left-to-right fold via recursive CTE
    parts = [
        f"""
WITH RECURSIVE v0 AS (
  SELECT word, count(*) AS n
  FROM (SELECT unnest({_TOKS}) AS word FROM documents) GROUP BY 1
),
vocab0 AS (
  SELECT word, n,
    list_transform(generate_series(1, length(word)),
                   i -> substr(word, i, 1)) AS syms
  FROM v0
)"""
    ]
    for r in range(1, n_merges + 1):
        prev = f"vocab{r - 1}"
        parts.append(
            f""",
pc{r} AS (
  SELECT syms[i] AS a, syms[i + 1] AS b, sum(n) AS cnt
  FROM {prev}, unnest(generate_series(1, len(syms) - 1)) AS u(i)
  WHERE len(syms) >= 2 GROUP BY 1, 2
),
top{r} AS (SELECT a, b, cnt FROM pc{r} ORDER BY cnt DESC, a, b LIMIT 1),
fold{r} AS (
  SELECT word, n, 1 AS pos, [syms[1]] AS acc, syms FROM {prev}
  UNION ALL
  SELECT f.word, f.n, f.pos + 1,
    CASE WHEN f.acc[len(f.acc)] = t.a AND f.syms[f.pos + 1] = t.b
         THEN list_append(f.acc[1:len(f.acc) - 1], t.a || t.b)
         ELSE list_append(f.acc, f.syms[f.pos + 1]) END,
    f.syms
  FROM fold{r} f CROSS JOIN top{r} t WHERE f.pos < len(f.syms)
),
vocab{r} AS (SELECT word, n, acc AS syms FROM fold{r} WHERE pos = len(syms))"""
        )
    return "".join(parts)


def _sql_bpe_train(n_merges: int = 3) -> str:
    finals = "\nUNION ALL ".join(
        f"SELECT {r} AS merge_rank, a AS left_sym, b AS right_sym,"
        f" a || b AS merged, cnt::bigint AS pair_count FROM top{r}"
        for r in range(1, n_merges + 1)
    )
    return _sql_bpe_ctes(n_merges) + "\n" + finals


def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE apply / fertility (textops.bpe_tokenize_counts): tokenize the
    corpus with the 3 learned merges; per-doc word and BPE-token counts."""
    return textops.bpe_tokenize_counts(_docs(spark, sf_dir), n_merges=3)


def _sql_bpe_fertility(n_merges: int = 3) -> str:
    # train CTEs shared verbatim with the bpe_train oracle, then ONE word
    # explode joined to the final vocab symbol counts
    return (
        _sql_bpe_ctes(n_merges)
        + f""",
wc AS (SELECT word, len(syms)::bigint AS n_syms FROM vocab{n_merges}),
e AS (SELECT doc_id, unnest({_TOKS}) AS word FROM documents),
pd AS (
  SELECT e.doc_id, count(*) AS n_words, sum(wc.n_syms) AS n_bpe_tokens
  FROM e JOIN wc USING (word) GROUP BY 1
)
SELECT d.doc_id, coalesce(pd.n_words, 0)::bigint AS n_words,
  coalesce(pd.n_bpe_tokens, 0)::bigint AS n_bpe_tokens
FROM documents d LEFT JOIN pd USING (doc_id)
"""
    )


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus near-dup admission (dedup.incremental_near_dups):
    batch = every 10th doc, with every 20th doc's text replaced by its
    corpus neighbor's text + ' extra' (a planted near-dup); corpus = the
    rest. Planted docs must flag, untouched batch docs must not."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    b0 = d.where(F.col("doc_id") % 10 == 0)
    nxt = d.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("next_text")
    )
    batch = b0.join(nxt, "doc_id", "left").select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 20 == 0) & F.col("next_text").isNotNull(),
            F.concat(F.col("next_text"), F.lit(" extra")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    corpus = d.where(F.col("doc_id") % 10 != 0)
    return dedup.incremental_near_dups(batch, corpus)


def _sql_incremental_neardup(num_hashes: int = 8, bands: int = 4) -> str:
    # mirrors dedup.incremental_near_dups: side-tagged minhash signatures,
    # batch-band x corpus-band equi-join, exact jaccard floor-micro on the
    # candidates, best match = max (jaccard, corpus_id) struct
    p = dedup.MINHASH_P
    rows = num_hashes // bands
    mins = ",\n    ".join(
        f"list_aggregate(list_transform(hs, h -> ({a}::bigint * h + {b}::bigint)"
        f" % {p}::bigint), 'min') AS mh_{i}"
        for i, (a, b) in enumerate(dedup.MINHASH_COEFFS[:num_hashes])
    )
    band_selects = "\n  UNION ALL ".join(
        f"SELECT side, doc_id, {b} AS band, md5("
        + " || '|' || ".join(f"mh_{b * rows + r}::varchar" for r in range(rows))
        + ") AS bucket FROM sig"
        for b in range(bands)
    )
    return f"""
WITH batch0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
nxt AS (SELECT doc_id - 1 AS doc_id, text AS next_text FROM documents),
batch AS (
  SELECT b.doc_id,
    CASE WHEN b.doc_id % 20 = 0 AND n.next_text IS NOT NULL
         THEN n.next_text || ' extra' ELSE b.text END AS text
  FROM batch0 b LEFT JOIN nxt n USING (doc_id)
),
corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 != 0),
src AS (
  SELECT 'b' AS side, doc_id, text FROM batch
  UNION ALL SELECT 'c', doc_id, text FROM corpus
),
t AS (SELECT side, doc_id, {_TOKS} AS toks FROM src),
sh AS (SELECT side, doc_id, {_SHINGLES_SQL} AS shingles FROM t),
hx AS (
  SELECT side, doc_id,
    list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 7))::bigint) AS hs
  FROM sh WHERE len(shingles) > 0
),
sig AS (SELECT side, doc_id, {mins} FROM hx),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
  FROM bands b JOIN bands c ON b.band = c.band AND b.bucket = c.bucket
  WHERE b.side = 'b' AND c.side = 'c'
),
scored AS (
  SELECT cand.batch_id, cand.corpus_id,
    (len(list_intersect(sb.shingles, sc.shingles))::bigint * 1000000)
      // (len(sb.shingles) + len(sc.shingles)
          - len(list_intersect(sb.shingles, sc.shingles)))::bigint
      AS jaccard_micro
  FROM cand
  JOIN sh sb ON sb.side = 'b' AND sb.doc_id = cand.batch_id
  JOIN sh sc ON sc.side = 'c' AND sc.doc_id = cand.corpus_id
),
best AS (
  SELECT batch_id, count(*) AS n_candidates,
    max(struct_pack(j := jaccard_micro, c := corpus_id)) AS b
  FROM scored GROUP BY 1
)
SELECT batch.doc_id, coalesce(best.n_candidates, 0)::bigint AS n_candidates,
  (best.b).c AS best_match_id, (best.b).j AS best_jaccard_micro,
  coalesce(((best.b).j >= 500000)::int, 0) AS is_neardup
FROM batch LEFT JOIN best ON batch.doc_id = best.batch_id
"""


def q_text_density_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerpipe-style block classification (urls.text_density_blocks)
    over the synthesized pages corpus — zero-shuffle array-HOF scoring,
    one posexplode; nav/promo/footer blocks flag boilerplate, the main
    text block flags content."""
    from ..operators import urls as urlops

    return urlops.text_density_blocks(synthesize_pages_df(spark, sf_dir))


# mirrors urls.text_density_blocks over the reconstructed template page:
# chr(1)-sentinel block split, per-block text/tag/anchor counts, floor-div
# density, 3-neighbor floor-div smoothing, threshold classification
_SQL_TEXT_DENSITY_BLOCKS = r"""
WITH pages AS (
  SELECT 'https://' || source || '.example.com/' || lang || '/' || doc_id AS url,
    '<html><head><meta charset="utf-8"><title>Synthetic page</title>'
    || '<script>var t=1;</script></head><body>'
    || '<nav><a href="/">Home</a> <a href="/about">About</a> '
    || '<a href="/contact">Contact</a></nav>'
    || '<div><a href="/promo">Big promo sale click here now</a></div>'
    || '<main><p>' || text || '</p></main>'
    || '<footer><a href="/privacy">Privacy</a> <a href="/terms">Terms</a></footer>'
    || '</body></html>' AS h
  FROM documents
),
b AS (
  SELECT url,
    list_filter(
      string_split(
        regexp_replace(h, '<(nav|div|main|footer|p)\b', chr(1) || '<\1', 'g'),
        chr(1)),
      x -> length(x) > 0) AS blocks
  FROM pages
),
arr AS (
  SELECT url,
    list_transform(blocks,
      x -> length(regexp_replace(x, '<[^>]+>', '', 'g'))::bigint) AS ntext,
    list_transform(blocks,
      x -> len(regexp_extract_all(x, '<[^>]+>'))::bigint) AS ntags,
    list_transform(blocks,
      x -> coalesce(list_sum(list_transform(
             regexp_extract_all(x, '<a[^>]*>([^<]*)</a>', 1),
             y -> length(y))), 0)::bigint) AS nanch
  FROM b
),
d AS (
  SELECT url, ntext, ntags, nanch,
    list_transform(generate_series(1, len(ntext)),
      i -> (ntext[i] * 1000000) // (ntags[i] + 1)) AS dens
  FROM arr
),
s AS (
  SELECT url, ntext, ntags, nanch, dens,
    list_transform(generate_series(1, len(dens)), i ->
      ((CASE WHEN i > 1 THEN dens[i-1] ELSE 0 END) + dens[i]
       + (CASE WHEN i < len(dens) THEN dens[i+1] ELSE 0 END))
      // ((CASE WHEN i > 1 THEN 1 ELSE 0 END) + 1
          + (CASE WHEN i < len(dens) THEN 1 ELSE 0 END))) AS sm
  FROM d
),
ex AS (
  SELECT url, unnest(generate_series(1, len(ntext))) AS pos1,
    unnest(ntext) AS n_text_chars, unnest(ntags) AS n_tags,
    unnest(nanch) AS n_anchor_chars, unnest(dens) AS density_micro,
    unnest(sm) AS smoothed_micro
  FROM s
)
SELECT url, (pos1 - 1)::bigint AS block_idx, n_text_chars, n_tags,
  n_anchor_chars, density_micro, smoothed_micro,
  ((n_anchor_chars * 1000000) // (n_text_chars + 1))::bigint
    AS link_density_micro,
  (smoothed_micro > 20000000
   AND (n_anchor_chars * 1000000) // (n_text_chars + 1) < 333333)::int
    AS is_content
FROM ex
"""


def q_host_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-host length anomalies (relational.robust_outliers):
    lower-median + MAD of n_chars per source, all-integer distribution
    sketch, |x - med| > 3*mad flags."""
    return relational.robust_outliers(
        _docs(spark, sf_dir).select("doc_id", "source", "n_chars"),
        "source",
        "n_chars",
    )


# mirrors relational.robust_outliers: lower median = smallest v with
# cum >= (n+1) div 2, over the (group, value) distribution, twice
_SQL_HOST_LENGTH_OUTLIERS = """
WITH v AS (SELECT doc_id, source AS grp, n_chars::bigint AS val FROM documents),
d1 AS (SELECT grp, val, count(*) AS cnt FROM v GROUP BY 1, 2),
c1 AS (
  SELECT grp, val, sum(cnt) OVER (PARTITION BY grp ORDER BY val) AS cum,
    sum(cnt) OVER (PARTITION BY grp) AS n
  FROM d1
),
med AS (
  SELECT grp, min(CASE WHEN cum >= (n + 1) // 2 THEN val END)::bigint AS med
  FROM c1 GROUP BY 1
),
dev AS (
  SELECT v.grp, abs(v.val - med.med) AS val
  FROM v JOIN med USING (grp)
),
d2 AS (SELECT grp, val, count(*) AS cnt FROM dev GROUP BY 1, 2),
c2 AS (
  SELECT grp, val, sum(cnt) OVER (PARTITION BY grp ORDER BY val) AS cum,
    sum(cnt) OVER (PARTITION BY grp) AS n
  FROM d2
),
mad AS (
  SELECT grp, min(CASE WHEN cum >= (n + 1) // 2 THEN val END)::bigint AS mad
  FROM c2 GROUP BY 1
)
SELECT v.doc_id, v.grp AS source, v.val AS n_chars, med.med, mad.mad,
  (abs(v.val - med.med) > 3 * mad.mad)::int AS is_outlier
FROM v JOIN med USING (grp) JOIN mad USING (grp)
"""


def q_redirect_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution (urls.resolve_redirects): synthesized
    redirect graph — every url whose doc_id % 8 != 0 redirects one step
    down (chains up to 7 hops, terminals at doc_id % 8 == 0) — resolved to
    the final landing URL by pointer doubling in O(log L) rounds."""
    from ..operators import urls as urlops

    d = _docs(spark, sf_dir)
    mk = lambda c: F.concat(F.lit("https://ex.org/u/"), c.cast("string"))  # noqa: E731
    nodes = d.select(mk(F.col("doc_id")).alias("url"))
    edges = d.where(F.col("doc_id") % 8 != 0).select(
        mk(F.col("doc_id")).alias("src"),
        mk(F.col("doc_id") - 1).alias("dst"),
    )
    return urlops.resolve_redirects(edges, nodes)


# closed-form walk of the same synthesized graph: recursive CTE from every
# url, keeping the row whose cursor has no outgoing edge (the terminal)
_SQL_REDIRECT_CHAINS = """
WITH RECURSIVE e AS (
  SELECT 'https://ex.org/u/' || doc_id AS src,
         'https://ex.org/u/' || (doc_id - 1) AS dst
  FROM documents WHERE doc_id % 8 != 0
),
n AS (
  -- top level must be a plain SELECT: a UNION-topped CTE inside WITH
  -- RECURSIVE is parsed as base/step and silently double-counts
  SELECT DISTINCT url FROM (
    SELECT 'https://ex.org/u/' || doc_id AS url FROM documents
    UNION ALL SELECT src FROM e UNION ALL SELECT dst FROM e
  ) u
),
walk AS (
  SELECT url, url AS cur, 0::bigint AS hops FROM n
  UNION ALL
  SELECT w.url, e.dst, w.hops + 1 FROM walk w JOIN e ON w.cur = e.src
)
SELECT url, cur AS final_url, hops, 1 AS resolved
FROM walk w
WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = w.cur)
"""


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (sampling.dsir_log_weights): hashed-unigram
    log-likelihood ratio of every document against the English subset as the
    target domain — the data-selection scoring pass of a training-mix
    curation pipeline."""
    from ..operators import sampling

    d = _docs(spark, sf_dir)
    return sampling.dsir_log_weights(d, d.where(F.col("lang") == "en"))


# mirrors sampling.dsir_log_weights: 28-bit md5 prefix % 1024 bucket, add-1
# smoothing over 1024 buckets, per-bucket round(ln,12) decimal difference,
# per-doc decimal sum, ONE double conversion + floor(micro) at the end
_SQL_DSIR_WEIGHTS = """
WITH b AS (
  SELECT doc_id, lang,
    ('0x' || substr(md5(unnest(regexp_split_to_array(trim(lower(text)),
      '\\s+'))), 1, 7))::bigint % 1024 AS bucket
  FROM documents
),
raw AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY 1),
tgt AS (SELECT bucket, count(*) AS tcnt FROM b WHERE lang = 'en' GROUP BY 1),
tot AS (
  SELECT (SELECT sum(cnt) FROM raw) AS nr,
         (SELECT coalesce(sum(tcnt), 0) FROM tgt) AS nt
),
ratio AS (
  SELECT raw.bucket,
    round(ln((coalesce(tcnt, 0) + 1) / (nt + 1024)::double), 12)::decimal(20,12)
    - round(ln((cnt + 1) / (nr + 1024)::double), 12)::decimal(20,12) AS ratio
  FROM raw LEFT JOIN tgt USING (bucket) CROSS JOIN tot
),
pd AS (SELECT doc_id, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
s AS (
  SELECT doc_id, sum(cnt) AS n_tokens,
    sum(cnt::decimal(18,0) * ratio) AS s
  FROM pd JOIN ratio USING (bucket) GROUP BY 1
)
SELECT d.doc_id, coalesce(s.n_tokens, 0)::bigint AS n_tokens,
  CASE WHEN s.s IS NOT NULL
       THEN floor(s.s::double * 1000000.0)::bigint END AS log_weight_micro
FROM documents d LEFT JOIN s USING (doc_id)
"""


_MONTHS3 = (
    "Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec",
)


def q_x_robots_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-Robots-Tag header compliance (warc.parse_x_robots): every 3rd doc
    sends noindex, every 4th a SECOND header line with nofollow (multi-
    line union), every 9th 'none' (implies both), every 7th an
    unavailable_after RFC-822 date, every 11th a UA-prefixed form that
    must read as a plain directive — and every body carries a DECOY
    'X-Robots-Tag: noindex' line that must NOT match (head-only scan)."""
    from ..sources.warc import parse_x_robots

    _utc(spark)
    d = _docs(spark, sf_dir)
    doc_id = F.col("doc_id")
    did = doc_id.cast("string")
    months = F.array(*[F.lit(m) for m in _MONTHS3])
    p2 = lambda c: F.lpad(c.cast("string"), 2, "0")  # noqa: E731
    crlf = "\r\n"
    line = lambda cond, body: F.when(  # noqa: E731
        cond, F.concat(F.lit("X-Robots-Tag: "), body, F.lit(crlf))
    ).otherwise(F.lit(""))
    date = F.concat(
        p2(doc_id % 28 + 1), F.lit(" "),
        F.element_at(months, (doc_id % 12 + 1).cast("int")),
        F.lit(" 2024 "), p2(doc_id % 24), F.lit(":00:00 GMT"),
    )
    payload = F.concat(
        F.lit("HTTP/1.1 200 OK" + crlf + "Content-Type: text/html" + crlf),
        line(doc_id % 3 == 0, F.lit("noindex")),
        line(doc_id % 4 == 0, F.lit("nofollow")),
        line(doc_id % 9 == 0, F.lit("none")),
        line(doc_id % 7 == 0, F.concat(F.lit("unavailable_after: "), date)),
        line(doc_id % 11 == 0, F.lit("googlebot: noindex")),
        F.lit(crlf + "<html><body>X-Robots-Tag: noindex" + crlf),
        F.lit("X-Robots-Tag: nofollow</body></html>"),
    )
    recs = d.select(
        F.concat(F.lit("https://x.example.com/"), did).alias("url"),
        payload.alias("payload"),
    )
    return parse_x_robots(recs).select(
        "url", "noindex", "nofollow", "unavailable_after"
    )


_SQL_X_ROBOTS_HEADERS = """
SELECT 'https://x.example.com/' || doc_id AS url,
  (doc_id % 3 = 0 OR doc_id % 9 = 0 OR doc_id % 11 = 0)::int AS noindex,
  (doc_id % 4 = 0 OR doc_id % 9 = 0)::int AS nofollow,
  CASE WHEN doc_id % 7 = 0 THEN
    epoch(make_timestamp(2024, (doc_id % 12)::int + 1,
      (doc_id % 28)::int + 1, (doc_id % 24)::int, 0, 0))::bigint
  END AS unavailable_after
FROM documents
"""


def _fmt_http_date(epoch):
    """epoch (Column, seconds) -> weekday-free RFC-822 date string + GMT.
    from_unixtime renders in the session timezone — callers pin UTC."""
    return F.concat(
        F.from_unixtime(epoch, "dd MMM yyyy HH:mm:ss"), F.lit(" GMT")
    )


def q_cache_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP cache-policy parse (warc.parse_cache_policy): every 3rd doc
    declares max-age, every 4th no-cache+private, every 5th no-store,
    every 2nd an Expires date, every 7th an ETag, every 11th
    Last-Modified; EVERY head carries an s-maxage=777 decoy that the
    token-anchored max-age extract must reject, and every body a decoy
    Cache-Control line that the head-only scan must ignore. TTL
    precedence (no-store/no-cache > max-age > Expires-Date) is exercised
    by the modulus interplay (e.g. doc_id%12==0 has max-age AND no-cache
    -> ttl 0)."""
    from ..sources.warc import parse_cache_policy

    _utc(spark)
    d = _docs(spark, sf_dir)
    doc_id = F.col("doc_id")
    crlf = "\r\n"
    base = (F.lit(1700000000).cast("long") + doc_id * 37)
    line = lambda cond, body: F.when(  # noqa: E731
        cond, F.concat(body, F.lit(crlf))
    ).otherwise(F.lit(""))
    payload = F.concat(
        F.lit("HTTP/1.1 200 OK" + crlf),
        F.lit("Date: "), _fmt_http_date(base), F.lit(crlf),
        F.lit("Cache-Control: s-maxage=777" + crlf),
        line(doc_id % 3 == 0, F.concat(
            F.lit("Cache-Control: max-age="),
            (doc_id % 86400).cast("string"))),
        line(doc_id % 4 == 0, F.lit("Cache-Control: no-cache, private")),
        line(doc_id % 5 == 0, F.lit("Cache-Control: no-store")),
        line(doc_id % 2 == 0, F.concat(
            F.lit("Expires: "),
            _fmt_http_date(base + (doc_id % 1000) * 60))),
        line(doc_id % 7 == 0, F.concat(
            F.lit('ETag: "v'), doc_id.cast("string"), F.lit('"'))),
        line(doc_id % 11 == 0, F.concat(
            F.lit("Last-Modified: "), _fmt_http_date(base - 3600))),
        F.lit(crlf + "<html>Cache-Control: max-age=99999</html>"),
    )
    recs = d.select(
        F.concat(F.lit("https://c.example.com/"), doc_id.cast("string"))
        .alias("url"),
        payload.alias("payload"),
    )
    return parse_cache_policy(recs).select(
        "url", "max_age", "no_cache", "no_store", "is_private",
        "has_etag", "has_last_modified", "expires_epoch", "ttl_sec",
        "fresh_until",
    )


_SQL_CACHE_POLICY = """
WITH d AS (
  SELECT doc_id, 1700000000 + doc_id * 37 AS base FROM documents
)
SELECT 'https://c.example.com/' || doc_id AS url,
  CASE WHEN doc_id % 3 = 0 THEN (doc_id % 86400)::bigint END AS max_age,
  (doc_id % 4 = 0)::int AS no_cache,
  (doc_id % 5 = 0)::int AS no_store,
  (doc_id % 4 = 0)::int AS is_private,
  (doc_id % 7 = 0)::int AS has_etag,
  (doc_id % 11 = 0)::int AS has_last_modified,
  CASE WHEN doc_id % 2 = 0
    THEN (base + (doc_id % 1000) * 60)::bigint END AS expires_epoch,
  CASE
    WHEN doc_id % 4 = 0 OR doc_id % 5 = 0 THEN 0::bigint
    WHEN doc_id % 3 = 0 THEN (doc_id % 86400)::bigint
    WHEN doc_id % 2 = 0 THEN ((doc_id % 1000) * 60)::bigint
  END AS ttl_sec,
  base + CASE
    WHEN doc_id % 4 = 0 OR doc_id % 5 = 0 THEN 0::bigint
    WHEN doc_id % 3 = 0 THEN (doc_id % 86400)::bigint
    WHEN doc_id % 2 = 0 THEN ((doc_id % 1000) * 60)::bigint
  END AS fresh_until
FROM d
"""


def q_truncated_captures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-delivered audit (warc.detect_truncation): bodies of
    known octet length; every 3rd capture declares MORE than delivered
    (truncated), every 13th fewer (over-delivery, negative delta), every
    11th omits Content-Length entirely (unknown -> NULLs). Precedence:
    11 > 13 > 3."""
    from ..sources.warc import detect_truncation

    d = _docs(spark, sf_dir)
    doc_id = F.col("doc_id")
    crlf = "\r\n"
    blen = doc_id % 50 + 10
    cl = (
        F.when(doc_id % 13 == 0, blen - 3)
        .when(doc_id % 3 == 0, blen + doc_id % 7 + 1)
        .otherwise(blen)
    )
    payload = F.concat(
        F.lit("HTTP/1.1 200 OK" + crlf + "Content-Type: text/html" + crlf),
        F.when(
            doc_id % 11 != 0,
            F.concat(F.lit("Content-Length: "), cl.cast("string"),
                     F.lit(crlf)),
        ).otherwise(F.lit("")),
        F.lit(crlf),
        F.repeat(F.lit("x"), blen.cast("int")),
    )
    recs = d.select(
        F.concat(F.lit("https://t.example.com/"), doc_id.cast("string"))
        .alias("url"),
        payload.alias("payload"),
    )
    return detect_truncation(recs).select(
        "url", "content_length", "body_bytes", "delta_bytes", "truncated"
    )


_SQL_TRUNCATED_CAPTURES = """
WITH d AS (
  SELECT doc_id, doc_id % 50 + 10 AS blen,
    CASE WHEN doc_id % 13 = 0 THEN doc_id % 50 + 7
         WHEN doc_id % 3 = 0 THEN doc_id % 50 + 11 + doc_id % 7
         ELSE doc_id % 50 + 10 END AS cl
  FROM documents
)
SELECT 'https://t.example.com/' || doc_id AS url,
  CASE WHEN doc_id % 11 != 0 THEN cl::bigint END AS content_length,
  blen::bigint AS body_bytes,
  CASE WHEN doc_id % 11 != 0 THEN (cl - blen)::bigint END AS delta_bytes,
  CASE WHEN doc_id % 11 != 0 THEN (cl > blen)::int END AS truncated
FROM d
"""


def q_soft404(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-404 detection (urls.soft404): every 5th doc is a 'Page Not
    Found' page served as 200 (title signal); every 11th (not 5th) a
    THIN apology page with the phrase only in the body; every 7th a LONG
    article that merely mentions 'not found' past the 200-char window
    (must NOT flag — precision pin); every 9th gets a true 404 status
    (correctly-labeled errors never flag). Branch precedence 5 > 7 > 11."""
    from ..operators.urls import soft404

    d = _docs(spark, sf_dir)
    doc_id = F.col("doc_id")
    did = doc_id.cast("string")
    html = (
        F.when(doc_id % 5 == 0, F.lit(
            "<html><head><title>404 Not Found</title></head>"
            "<body>The page you requested was not found.</body></html>"))
        .when(doc_id % 7 == 0, F.concat(
            F.lit("<html><head><title>Archive "), did,
            F.lit("</title></head><body>"),
            F.repeat(F.lit("lorem ipsum dolor "), 20),
            F.lit("the term not found appears here</body></html>")))
        .when(doc_id % 11 == 0, F.lit(
            "<html><head><title>Oops</title></head>"
            "<body>Sorry, nothing was found here.</body></html>"))
        .otherwise(F.concat(
            F.lit("<html><head><title>Doc "), did,
            F.lit("</title></head><body>regular content for document "),
            did, F.lit(" with several more words</body></html>")))
    )
    status = F.when(doc_id % 9 == 0, F.lit(404)).otherwise(F.lit(200))
    pages = d.select(
        F.concat(F.lit("https://s.example.com/"), did).alias("url"),
        html.alias("html"),
        status.alias("status_code"),
    )
    return soft404(pages).select(
        "url", "status_code", "title", "n_tokens",
        "title_404", "body_404", "thin", "soft404",
    )


_SQL_SOFT404 = """
WITH d AS (
  SELECT doc_id,
    CASE WHEN doc_id % 5 = 0 THEN
      '<html><head><title>404 Not Found</title></head>'
      || '<body>The page you requested was not found.</body></html>'
    WHEN doc_id % 7 = 0 THEN
      '<html><head><title>Archive ' || doc_id || '</title></head><body>'
      || repeat('lorem ipsum dolor ', 20)
      || 'the term not found appears here</body></html>'
    WHEN doc_id % 11 = 0 THEN
      '<html><head><title>Oops</title></head>'
      || '<body>Sorry, nothing was found here.</body></html>'
    ELSE
      '<html><head><title>Doc ' || doc_id
      || '</title></head><body>regular content for document ' || doc_id
      || ' with several more words</body></html>' END AS html,
    CASE WHEN doc_id % 9 = 0 THEN 404 ELSE 200 END AS status_code
  FROM documents
), p AS (
  SELECT doc_id, html, status_code,
    trim(regexp_extract(html, '(?is)<title[^>]*>([^<]*)</title>', 1))
      AS title,
    trim(regexp_replace(regexp_replace(html, '(?s)<[^>]*>', ' ', 'g'),
         '\\s+', ' ', 'g')) AS stripped
  FROM d
), f AS (
  SELECT doc_id, status_code, title,
    CASE WHEN stripped = '' THEN 0
         ELSE len(string_split(stripped, ' ')) END AS n_tokens,
    regexp_matches(lower(title),
      '(404|not found|no longer (exists|available)|page (does not exist|unavailable|has been removed)|nothing (was )?found)')
      AS t404,
    regexp_matches(lower(substring(stripped, 1, 200)),
      '(404|not found|no longer (exists|available)|page (does not exist|unavailable|has been removed)|nothing (was )?found)')
      AS b404
  FROM p
)
SELECT 'https://s.example.com/' || doc_id AS url, status_code, title,
  n_tokens::bigint AS n_tokens,
  t404::int AS title_404, b404::int AS body_404,
  (n_tokens < 30)::int AS thin,
  (status_code = 200 AND (t404 OR (b404 AND n_tokens < 30)))::int
    AS soft404
FROM f
"""


def q_paywall_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paywall/login-wall detection (urls.paywall_detect): every 5th doc
    carries the schema.org isAccessibleForFree:false JSON-LD marker,
    every 7th a password login form, every 11th a subscribe-CTA phrase,
    every 13th a DECOY mentioning 'password' and 'free account' in prose
    that must NOT trip the battery. Branch precedence 5 > 7 > 11 > 13."""
    from ..operators.urls import paywall_detect

    d = _docs(spark, sf_dir)
    doc_id = F.col("doc_id")
    did = doc_id.cast("string")
    html = (
        F.when(doc_id % 5 == 0, F.concat(
            F.lit('<html><head><script type="application/ld+json">'
                  '{"@type":"NewsArticle","isAccessibleForFree":false}'
                  "</script></head><body>Teaser paragraph for story "),
            did, F.lit(".</body></html>")))
        .when(doc_id % 7 == 0, F.concat(
            F.lit("<html><body><form action=\"/login\">"
                  "<input type=\"password\" name=\"pw\">"
                  "</form>Account area "), did, F.lit("</body></html>")))
        .when(doc_id % 11 == 0, F.concat(
            F.lit("<html><body>Subscribe to continue reading story "),
            did, F.lit(".</body></html>")))
        .when(doc_id % 13 == 0, F.concat(
            F.lit("<html><body>The password manager guide "), did,
            F.lit(" explains a free account of historical events."
                  "</body></html>")))
        .otherwise(F.concat(
            F.lit("<html><body>Open article "), did,
            F.lit(" with full text.</body></html>")))
    )
    pages = d.select(
        F.concat(F.lit("https://p.example.com/"), did).alias("url"),
        html.alias("html"),
    )
    return paywall_detect(pages).select(
        "url", "has_password_input", "paywall_phrase", "jsonld_gated",
        "gated",
    )


_SQL_PAYWALL_DETECT = """
WITH f AS (
  SELECT doc_id,
    (doc_id % 5 = 0)::int AS jsonld_gated,
    (doc_id % 5 != 0 AND doc_id % 7 = 0)::int AS has_password_input,
    (doc_id % 5 != 0 AND doc_id % 7 != 0 AND doc_id % 11 = 0)::int
      AS paywall_phrase
  FROM documents
)
SELECT 'https://p.example.com/' || doc_id AS url,
  has_password_input, paywall_phrase, jsonld_gated,
  greatest(has_password_input, paywall_phrase, jsonld_gated) AS gated
FROM f
"""


def q_html_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> Markdown conversion (urls.html_to_markdown): structured
    synthetic pages (head with script/style to drop, h1/h2, bold/italic,
    a list, a link, <br>, and a <pre> that the delimited p-pass must NOT
    swallow). The oracle restates the identical RE2-portable replacement
    chain step by step ($N vs \\N group syntax is the only delta)."""
    from ..operators.urls import html_to_markdown

    d = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    m7 = (F.col("doc_id") % 7).cast("string")
    m5 = (F.col("doc_id") % 5).cast("string")
    html = F.concat(
        F.lit('<html><head><title>Doc '), did,
        F.lit('</title><script type="text/javascript">var x='),
        (F.col("doc_id") % 9).cast("string"),
        F.lit(';</script><style>.c{color:red}</style></head>'
              '<body><h1>Doc '), did,
        F.lit('</h1><p>Intro for item '), did,
        F.lit(' with <b>bold</b> and <i>italic</i> runs.</p>'
              '<h2>Details</h2><ul><li>alpha '), m7,
        F.lit('</li><li>beta <strong>'), m5,
        F.lit('</strong></li></ul><p>See <a href="https://x.example.com/'),
        did, F.lit('">link '), did,
        F.lit('</a> for more.<br>End of '), did,
        F.lit('.</p><pre>raw '), m7, F.lit('</pre></body></html>'),
    )
    pages = d.select(
        F.concat(F.lit("https://m.example.com/"), did).alias("url"),
        html.alias("html"),
    )
    return html_to_markdown(pages).select("url", "markdown")


def _sql_html_markdown() -> str:
    """CTE-chain oracle mirroring _md_chain: (pattern, replacement-SQL)
    pairs in the IDENTICAL order; chr(10) builds real newlines."""
    nl = "chr(10)"
    steps: list[tuple[str, str]] = []
    for tag in ("script", "style", "head"):
        steps.append((rf"(?is)<{tag}(\s[^>]*)?>.*?</{tag}>", "' '"))
    for n in range(1, 7):
        steps.append((
            rf"(?is)<h{n}(\s[^>]*)?>(.*?)</h{n}>",
            f"{nl} || {nl} || '{'#' * n} \\2' || {nl} || {nl}",
        ))
    steps.append((
        r'(?is)<a\s[^>]*href="([^"]*)"[^>]*>(.*?)</a>', r"'[\2](\1)'"
    ))
    steps.append((r"(?i)<br(\s[^>]*)?/?>", nl))
    for tag in ("b", "strong"):
        steps.append((rf"(?is)<{tag}(\s[^>]*)?>(.*?)</{tag}>", r"'**\2**'"))
    for tag in ("i", "em"):
        steps.append((rf"(?is)<{tag}(\s[^>]*)?>(.*?)</{tag}>", r"'*\2*'"))
    steps.append((r"(?is)<li(\s[^>]*)?>(.*?)</li>", f"{nl} || '- \\2'"))
    steps.append((r"(?i)</?(p|div)(\s[^>]*)?>", f"{nl} || {nl}"))
    steps.append((r"(?s)<[^>]*>", "' '"))
    steps.append((r"[ \t]+", "' '"))
    steps.append((r" ?\n ?", nl))
    steps.append((r"\n{3,}", f"{nl} || {nl}"))
    steps.append((r"^\s+|\s+$", "''"))
    synth = (
        "'<html><head><title>Doc ' || doc_id"
        " || '</title><script type=\"text/javascript\">var x='"
        " || (doc_id % 9)"
        " || ';</script><style>.c{color:red}</style></head>"
        "<body><h1>Doc ' || doc_id"
        " || '</h1><p>Intro for item ' || doc_id"
        " || ' with <b>bold</b> and <i>italic</i> runs.</p>"
        "<h2>Details</h2><ul><li>alpha ' || (doc_id % 7)"
        " || '</li><li>beta <strong>' || (doc_id % 5)"
        " || '</strong></li></ul>"
        "<p>See <a href=\"https://x.example.com/' || doc_id"
        " || '\">link ' || doc_id"
        " || '</a> for more.<br>End of ' || doc_id"
        " || '.</p><pre>raw ' || (doc_id % 7) || '</pre></body></html>'"
    )
    ctes = [f"h0 AS (SELECT doc_id, {synth} AS x FROM documents)"]
    for i, (pat, repl) in enumerate(steps, 1):
        ctes.append(
            f"h{i} AS (SELECT doc_id, "
            f"regexp_replace(x, '{pat}', {repl}, 'g') AS x FROM h{i - 1})"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT 'https://m.example.com/' || doc_id AS url,"
        f" x AS markdown FROM h{len(steps)}"
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted top-k sampling (sampling.weighted_sample):
    k=10 per source, weight = text length in chars (longer docs more
    likely) — the quality-weighted subsetting step after scoring. The
    oracle restates the integer priority and the per-stratum row_number;
    a plan test asserts the rank filter compiles to WindowGroupLimit."""
    from ..operators.sampling import weighted_sample

    d = _docs(spark, sf_dir).select(
        "doc_id", "source", F.length("text").cast("long").alias("wt")
    )
    return weighted_sample(d, "doc_id", "wt", k=10, strata_col="source")


_SQL_WEIGHTED_SAMPLE = """
WITH d AS (
  SELECT doc_id, source AS strata, length(text)::bigint AS wt,
    ('0x' || substr(md5(doc_id::varchar), 1, 14))::bigint
      // length(text)::bigint AS priority
  FROM documents
), r AS (
  SELECT strata, doc_id, wt, priority,
    row_number() OVER (PARTITION BY strata ORDER BY priority, doc_id) AS rn
  FROM d
)
SELECT strata, doc_id, wt, priority, rn::int AS rn FROM r WHERE rn <= 10
"""


def q_domain_quality_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson lower-bound quality ranking per source
    (sampling.domain_quality_ci): pass = n_chars >= 300. The oracle
    restates the bound operation-for-operation in doubles (z as the
    1.96 literal, z² as z*z) with one floor(1e6) emit."""
    from ..operators import sampling

    d = _docs(spark, sf_dir).withColumn(
        "passed", (F.col("n_chars") >= 300).cast("int")
    )
    return sampling.domain_quality_ci(d, "passed")


_SQL_DOMAIN_QUALITY_CI = """
WITH g AS (
  SELECT source, count(*)::bigint AS n_docs,
    sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)::bigint AS n_pass
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_pass,
  floor((
      (n_pass / n_docs)
      + (1.96::double * 1.96::double) / (2 * n_docs)
      - 1.96::double * sqrt(
          ((n_pass / n_docs) * (1.0::double - (n_pass / n_docs))
           + (1.96::double * 1.96::double) / (4 * n_docs)) / n_docs)
    ) / (1.0::double + (1.96::double * 1.96::double) / n_docs)
    * 1000000.0::double)::bigint AS wilson_lb_micro
FROM g
"""


def q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiered token-budget selection (sampling.budget_select): per
    source, admit best-quality-tier docs first (tier = n_chars/100
    capped at 5, weight = chars, budget 30000) — hash-ordered within
    the marginal tier. The oracle states the plain per-group window;
    the operator's bucketed two-phase cumsum (the shard_assign
    machinery) produces the identical offsets with no per-group sort
    task."""
    from ..operators import sampling

    d = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.expr("least(n_chars div 100, 5)").cast("int").alias("tier"),
        F.col("n_chars").cast("long").alias("w"),
    )
    return sampling.budget_select(
        d, tier_col="tier", weight_col="w", budget=30_000
    )


_SQL_BUDGET_SELECT = """
WITH d AS (
  SELECT source, doc_id, least(n_chars // 100, 5)::int AS tier,
    n_chars::bigint AS weight,
    ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint AS rank_hash
  FROM documents
),
o AS (
  SELECT source, doc_id, tier, weight, rank_hash,
    coalesce(sum(weight) OVER (
      PARTITION BY source ORDER BY tier DESC, rank_hash, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint
      AS start_offset
  FROM d
)
SELECT source, doc_id, tier, weight, rank_hash, start_offset,
  CASE WHEN start_offset < 30000 THEN 1 ELSE 0 END AS keep
FROM o
"""


# ---------------------------------------------------------------------------
# query_likelihood (round-4 session-15)
# ---------------------------------------------------------------------------


def q_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval
    (textops.query_likelihood) for the same bounded 4-term query BM25
    scores — the LM-based ranking face of the inverted index."""
    return textops.query_likelihood(_docs(spark, sf_dir), _BM25_TERMS)


_SQL_QUERY_LIKELIHOOD = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
b AS (
  SELECT doc_id, len(toks)::bigint AS dl,
    list_filter(toks, x -> x IN ('data', 'merge', 'spark', 'window'))
      AS hits
  FROM t
),
tf AS (
  SELECT doc_id, h AS t, count(*)::bigint AS tf
  FROM (SELECT doc_id, unnest(hits) AS h FROM b) GROUP BY doc_id, h
),
cf AS (SELECT t, sum(tf)::bigint AS cf FROM tf GROUP BY t),
coll AS (SELECT sum(dl)::bigint AS c_total FROM b),
stats AS (
  SELECT t, 2000.0::double * (cf::double / c_total::double) AS mup
  FROM cf, coll
),
kc AS (SELECT sum(round(ln(mup), 12)::decimal(28,12)) AS k FROM stats),
sparse AS (
  SELECT doc_id, count(*)::bigint AS n_terms_matched,
    sum(round(ln((tf.tf::double + stats.mup) / stats.mup), 12)
        ::decimal(28,12)) AS sm
  FROM tf JOIN stats ON tf.t = stats.t GROUP BY doc_id
)
SELECT s.doc_id, s.n_terms_matched, b.dl,
  floor((s.sm + kc.k
         - 4 * round(ln(b.dl::double + 2000.0::double), 12)
             ::decimal(28,12))::double
        * 1000000)::bigint AS score_micro
FROM sparse s JOIN b ON s.doc_id = b.doc_id, kc
ORDER BY s.doc_id
"""


# ---------------------------------------------------------------------------
# hll_rolling_distinct (round-4 session-15)
# ---------------------------------------------------------------------------


def q_hll_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day from MERGEABLE per-day HLL
    register tables (dedup.hll_rolling_distinct) — one corpus scan,
    max-merge across the window on the bounded (days x m) table."""
    return dedup.hll_rolling_distinct(_tbl(_utc(spark), sf_dir, "events"))


_SQL_HLL_ROLLING_DISTINCT = """
WITH ev AS (
  SELECT floor(epoch(ts))::bigint // 86400 AS day,
    ('0x' || substr(md5(user_id::varchar), 1, 15))::bigint AS h
  FROM events
),
r AS (
  SELECT day, h % 256 AS reg,
    CASE WHEN h // 256 > 0 THEN 53 - length(bin(h // 256))
         ELSE 53 END AS rank
  FROM ev
),
pd AS (SELECT day, reg, max(rank) AS mx FROM r GROUP BY day, reg),
days AS (SELECT DISTINCT day FROM pd),
fan AS (
  SELECT unnest(generate_series(day, day + 6)) AS out_day, reg, mx FROM pd
),
mg AS (
  SELECT out_day, reg, max(mx) AS mx
  FROM fan JOIN days ON fan.out_day = days.day
  GROUP BY out_day, reg
),
s AS (
  SELECT out_day, count(*)::bigint AS n_present,
    sum((1::bigint << (53 - mx)))::bigint AS s_present
  FROM mg GROUP BY out_day
),
e AS (
  SELECT out_day, n_present, (256 - n_present)::bigint AS zeros,
    (s_present + (256 - n_present) * (1::bigint << 53))::double
      / 9007199254740992.0::double AS z
  FROM s
),
f AS (
  SELECT out_day, n_present, zeros,
    (0.7213::double / (1.0::double + 1.079::double / 256.0::double)
     * 256.0::double * 256.0::double) / z AS e_raw
  FROM e
)
SELECT out_day::bigint AS day, n_present AS n_registers_set,
  floor(CASE WHEN e_raw <= 640.0::double AND zeros > 0
             THEN 256.0::double * ln(256.0::double / zeros::double)
             ELSE e_raw END)::bigint AS est_distinct
FROM f ORDER BY day
"""


# ---------------------------------------------------------------------------
# consistent_hash_moves
# ---------------------------------------------------------------------------


def q_consistent_hash_moves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hash re-shard audit (scale.layout.rendezvous_moves):
    grow the shard fleet 8 -> 9 over the documents corpus and census, per
    destination shard, how many rows land and how many moved. HRW hashing
    moves only ~1/9 of rows and every move lands on the NEW shard."""
    from ..scale.layout import rendezvous_moves

    docs = _docs(spark, sf_dir).select("doc_id")
    return rendezvous_moves(docs, "doc_id", 8, 9)


_SQL_CONSISTENT_HASH_MOVES = """
WITH h AS (
  SELECT doc_id,
    list_transform(range(0, 8),
      s -> md5(doc_id::varchar || '#' || s::varchar)) AS h8,
    list_transform(range(0, 9),
      s -> md5(doc_id::varchar || '#' || s::varchar)) AS h9
  FROM documents
),
a AS (
  SELECT doc_id,
    (list_position(h8, list_aggregate(h8, 'max')) - 1)::bigint AS s8,
    (list_position(h9, list_aggregate(h9, 'max')) - 1)::bigint AS s9
  FROM h
),
c AS (
  SELECT s9 AS shard_to, count(*)::bigint AS n_docs,
    sum(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END)::bigint AS n_moved
  FROM a GROUP BY s9
)
SELECT shard_to, n_docs, n_moved,
  floor(n_moved * 1000000 / n_docs)::bigint AS moved_ppm
FROM c
"""


def q_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via the bitmap aggregate family
    (bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg /
    bitmap_or_agg / bitmap_count) — the mergeable-exact alternative
    sitting between count(DISTINCT) (exact, but shuffles raw keys) and
    the HLL battery (mergeable, approximate): integer ids fold into
    fixed 4 KB bucket bitmaps map-side, the shuffle carries
    (lang, bucket, bitmap) — bounded by id-range/32768 per group, never
    by row count — and OR-merge is associative, so partial aggregation
    is lossless. OR-merge is only valid WITHIN a bucket (bit positions
    repeat across buckets — doc 0/bucket 0 and doc 1/bucket 1 share
    position 0, a collision this query's first draft hit at sf0.01), so
    the shape is construct per (lang, source, bucket) -> bitmap_or_agg
    per (lang, bucket) -> SUM of per-bucket counts per lang."""
    docs = _docs(spark, sf_dir)
    per_source = docs.groupBy(
        "lang", "source", F.bitmap_bucket_number(F.col("doc_id")).alias("bkt")
    ).agg(
        F.bitmap_construct_agg(
            F.bitmap_bit_position(F.col("doc_id"))
        ).alias("b")
    )
    per_bucket = per_source.groupBy("lang", "bkt").agg(
        F.bitmap_count(F.bitmap_or_agg(F.col("b"))).alias("n")
    )
    return per_bucket.groupBy("lang").agg(
        F.sum("n").cast("long").alias("n_distinct"),
        F.count("*").cast("long").alias("n_buckets"),
    )


_SQL_BITMAP_DISTINCT = """
SELECT lang, count(DISTINCT doc_id)::bigint AS n_distinct,
  -- Spark's bitmap_bucket_number is 1-based: floor((v-1)/32768)+1,
  -- so value 0 lands in bucket 0 on its own
  count(DISTINCT floor((doc_id - 1) / 32768.0)::bigint + 1)::bigint
    AS n_buckets
FROM documents GROUP BY lang
"""


def q_listagg_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.0 ``listagg ... WITHIN GROUP (ORDER BY ...)`` — the
    ordered string-aggregation reporting surface (DuckDB mirrors it as
    ``string_agg(... ORDER BY ...)``). Deterministic because the WITHIN
    GROUP order is total (distinct sources); the group payload is the
    bounded per-lang distinct-source set, never raw rows — at 100 TB a
    listagg over unbounded rows is a single-task string build, so the
    distinct comes first by construction."""
    docs = _docs(spark, sf_dir)
    per = docs.select("lang", "source").distinct()
    per.createOrReplaceTempView("_ldos_listagg_src")
    return spark.sql(
        """
        SELECT lang,
               listagg(source, '|') WITHIN GROUP (ORDER BY source)
                 AS sources,
               count(*) AS n_sources
        FROM _ldos_listagg_src GROUP BY lang
        """
    ).select("lang", "sources", F.col("n_sources").cast("long").alias("n_sources"))


_SQL_LISTAGG_SOURCES = """
WITH d AS (SELECT DISTINCT lang, source FROM documents)
SELECT lang, string_agg(source, '|' ORDER BY source) AS sources,
  count(*)::bigint AS n_sources
FROM d GROUP BY lang
"""


def q_hll_native_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in DataSketches HLL surface (hll_sketch_agg / hll_union_agg
    / hll_sketch_estimate, lgConfigK=14) beside the from-scratch HLL
    battery: per-source sketches union TWO-LEVEL (the mergeability that
    makes sketch columns materializable per shard and rolled up later
    without touching rows again). The estimate is deterministic but
    leaves set-mode exactness above a few thousand distincts per group
    (measured: en at sf0.1 reads 2051 vs 2059 exact), so the oracle
    pins the EXACT count plus a 3% error bound the lgK=14 rsd (~0.8%)
    clears at any test SF — not estimate equality."""
    docs = _docs(spark, sf_dir)
    per_source = docs.groupBy("lang", "source").agg(
        F.hll_sketch_agg("doc_id", 14).alias("sk"),
        F.countDistinct("doc_id").alias("nd"),
    )
    return per_source.groupBy("lang").agg(
        F.sum("nd").cast("long").alias("n_exact"),
        (
            F.abs(
                F.hll_sketch_estimate(F.hll_union_agg(F.col("sk")))
                - F.sum("nd")
            )
            <= F.sum("nd") * 0.03
        ).alias("within_3pct"),
    )


_SQL_HLL_NATIVE_DISTINCT = """
SELECT lang, count(DISTINCT doc_id)::bigint AS n_exact,
  true AS within_3pct
FROM documents GROUP BY lang
"""
