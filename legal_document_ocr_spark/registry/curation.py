"""Registry segment: curation, LM scoring, ANN/embedding families."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, relational, similarity, textops
from ..operators.textops import STOPWORDS

from .common import (
    _TOKS,
    _as_long,
    _docs,
    _tbl,
)
from .textana import (
    _SQL_QUALITY_SCORES,
    _in_list,
)
from .dedup_olap import (
    _SHINGLES_SQL,
    _sql_minhash_bands,
)

def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 BPE merge candidates (textops.bpe_pair_counts)."""
    return textops.bpe_pair_counts(_docs(spark, sf_dir))


_SQL_BPE_PAIR_COUNTS = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
p AS (
  SELECT unnest(flatten(list_transform(toks, t ->
    CASE WHEN length(t) >= 2 THEN
      list_transform(generate_series(1, length(t) - 1), i -> substr(t, i, 2))
    ELSE []::varchar[] END))) AS pair
  FROM t
)
SELECT pair, count(*) AS cnt FROM p GROUP BY pair
ORDER BY cnt DESC, pair LIMIT 50
"""


def q_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (textops.holdout_split)."""
    return textops.holdout_split(_docs(spark, sf_dir))


_SQL_HOLDOUT_SPLIT = """
SELECT doc_id,
  CASE WHEN ('0x' || substr(md5(doc_id::varchar), 1, 7))::bigint % 10000 < 500
         THEN 'val'
       WHEN ('0x' || substr(md5(doc_id::varchar), 1, 7))::bigint % 10000 < 1000
         THEN 'test'
       ELSE 'train' END AS split
FROM documents
"""


def q_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained char-bigram LM perplexity scoring (textops.lm_scores)."""
    return textops.lm_scores(_docs(spark, sf_dir))


_SQL_LM_SCORES = """
WITH t AS (SELECT doc_id, lower(text) AS lt FROM documents),
e AS (
  SELECT doc_id,
    unnest(list_transform(generate_series(1, length(lt) - 1),
                          i -> substr(lt, i, 2))) AS bg
  FROM t WHERE length(lt) >= 2
),
mc AS (SELECT bg, count(*) AS cnt FROM e GROUP BY bg),
pc AS (SELECT substr(bg, 1, 1) AS c1, sum(cnt) AS pcnt FROM mc GROUP BY 1),
model AS (
  SELECT bg, round(ln(cnt / pcnt::double), 6)::decimal(28,12) AS lnp
  FROM mc JOIN pc ON substr(mc.bg, 1, 1) = pc.c1
),
sc AS (
  SELECT doc_id, sum(lnp) AS s, count(*) AS m
  FROM e JOIN model USING (bg) GROUP BY doc_id
)
SELECT d.doc_id, coalesce(sc.m, 0)::bigint AS n_bigrams,
  CASE WHEN sc.m IS NOT NULL
       THEN floor((-(s::double) / m) * 1000000.0)::bigint END AS nll_micro
FROM documents d LEFT JOIN sc USING (doc_id)
"""


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: 3-gram overlap of every corpus document
    against a bounded eval set (doc_id % 97 == 0 stands in for the benchmark);
    broadcast of the SMALL side only (dedup.benchmark_contamination)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    bench = d.where(F.col("doc_id") % 97 == 0)
    return dedup.benchmark_contamination(d, bench)


_SQL_CONTAMINATION = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM t),
e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
bs AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 97 = 0),
hit AS (SELECT s, 1 AS _hit FROM bs),
agg AS (
  SELECT doc_id, count(*) AS n_shingles,
         sum(coalesce(_hit, 0)) AS n_matched
  FROM e LEFT JOIN hit USING (s) GROUP BY doc_id
)
SELECT d.doc_id,
  coalesce(a.n_shingles, 0)::bigint AS n_shingles,
  coalesce(a.n_matched, 0)::bigint AS n_matched,
  CASE WHEN a.n_shingles IS NOT NULL
       THEN round(a.n_matched / a.n_shingles::double, 6) END AS contamination
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier inference (textops.quality_classifier):
    logit + keep decision, pure codegen arithmetic."""
    return textops.quality_classifier(_docs(spark, sf_dir))


_SQL_QUALITY_CLASSIFIER = f"""
WITH t AS (
  SELECT doc_id, text, {_TOKS} AS toks,
    len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct
  FROM documents
), s AS (
  SELECT doc_id, text, toks, n_punct,
    len(list_filter(toks, t -> t IN ({_in_list(STOPWORDS)}))) AS n_stop
  FROM t
), f AS (
  SELECT doc_id,
    least(length(text)::double / 500.0::double, 1.0::double) AS length_component,
    CASE WHEN len(toks) > 0 THEN n_stop / len(toks)::double
         ELSE 0.0::double END AS stop_ratio,
    CASE WHEN length(text) > 0 THEN n_punct / length(text)::double
         ELSE 0.0::double END AS punct_ratio,
    least((CASE WHEN len(toks) > 0
               THEN list_reduce(list_transform(toks, t -> length(t)::double),
                                (a, b) -> a + b) / len(toks)::double
               ELSE 0.0::double END) / 10.0::double, 1.0::double)
      AS mean_tok_len_capped,
    CASE WHEN len(toks) > 0 THEN len(list_distinct(toks)) / len(toks)::double
         ELSE 0.0::double END AS distinct_ratio
  FROM s
)
SELECT doc_id,
  floor((length_component * 1.2::double + stop_ratio * 2.0::double
        + punct_ratio * (-3.0::double) + mean_tok_len_capped * 0.8::double
        + distinct_ratio * 1.5::double + (-1.78::double))
        * 1000000.0::double)::bigint AS clf_logit_micro,
  (length_component * 1.2::double + stop_ratio * 2.0::double
   + punct_ratio * (-3.0::double) + mean_tok_len_capped * 0.8::double
   + distinct_ratio * 1.5::double + (-1.78::double) >= 0.0::double)::int
    AS clf_keep
FROM f
"""


def q_curation_funnel_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel upgraded with NEAR-dup clustering: quality + language
    filter -> connected-component representatives (dedup.dedup_clusters) ->
    deterministic downsample. The production composition: exact dedup alone
    leaves trivially-perturbed copies in the mix."""
    from ..operators import sampling

    docs = _docs(spark, sf_dir)
    q = textops.quality_scores(docs).select("doc_id", "quality_score")
    kept = docs.join(q, "doc_id").where(
        (F.col("quality_score") >= 0.45) & F.col("lang").isin("en", "zh")
    )
    reps = (
        dedup.dedup_clusters(kept.select("doc_id", "text"))
        .where(F.col("is_representative") == 1)
        .select("doc_id")
    )
    sampled = sampling.deterministic_sample(
        kept.join(reps, "doc_id", "semi"), 0.5, key_col="doc_id"
    )
    return sampled.select("doc_id", "lang", "quality_score")


_SQL_CURATION_FUNNEL_NEARDUP = (
    f"""
WITH RECURSIVE qq AS ({_SQL_QUALITY_SCORES}),
filtered AS (
  SELECT d.doc_id, d.text, d.lang, qq.quality_score
  FROM documents d JOIN qq USING (doc_id)
  WHERE qq.quality_score >= 0.45::double AND d.lang IN ('en', 'zh')
),
"""
    + _sql_minhash_bands("SELECT doc_id, text FROM filtered").replace(
        "\nWITH src AS", "\nsrc AS", 1
    ).lstrip()
    + f""",
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
),
shd AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh
  FROM (SELECT doc_id, {_TOKS} AS toks FROM src) tt
),
pairs AS (
  SELECT id_a, id_b
  FROM cand JOIN shd a ON a.doc_id = id_a JOIN shd b ON b.doc_id = id_b
  WHERE round(len(list_intersect(a.sh, b.sh))
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::double,
          6) >= 0.5::double
),
sym AS (
  SELECT id_a AS src_n, id_b AS dst_n FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
walk(node, lbl) AS (
  SELECT doc_id, doc_id FROM src
  UNION
  SELECT s.dst_n, w.lbl FROM walk w JOIN sym s ON s.src_n = w.node
),
cc AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY node)
SELECT f.doc_id, f.lang, f.quality_score
FROM filtered f JOIN cc ON cc.doc_id = f.doc_id AND cc.doc_id = cc.cluster_id
WHERE ('0x' || substr(md5(f.doc_id::varchar), 1, 7))::bigint % 10000 < 5000
"""
)


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.repetition_stats(_docs(spark, sf_dir))


_SQL_REPETITION_STATS = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
pt AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok)
SELECT doc_id, sum(c)::bigint AS n_tokens, count(*) AS n_distinct,
  round(count(*) / sum(c)::double, 6) AS distinct_ratio,
  round(max(c) / sum(c)::double, 6) AS top_token_share
FROM pt GROUP BY doc_id
"""


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.char_entropy(_docs(spark, sf_dir))


# mirrors textops.char_entropy: per-char-class cnt * round(log2(cnt/n), 6)
# summed as DECIMAL, one double division + floor(micro) at the end
_SQL_CHAR_ENTROPY = """
WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents),
ex AS (
  SELECT doc_id, n,
    unnest(list_transform(generate_series(1, n), i -> substr(text, i, 1))) AS ch
  FROM t WHERE n > 0
),
pt AS (SELECT doc_id, n, ch, count(*) AS cnt FROM ex GROUP BY doc_id, n, ch),
e AS (
  SELECT doc_id, n, count(*) AS n_distinct,
    sum(cnt::decimal(18,0) * round(log2(cnt / n::double), 6)::decimal(18,6)) AS s
  FROM pt GROUP BY doc_id, n
)
SELECT t.doc_id, t.n::bigint AS n_chars,
  coalesce(e.n_distinct, 0)::bigint AS n_distinct_chars,
  CASE WHEN e.s IS NOT NULL
       THEN floor((-(e.s::double) / t.n) * 1000000.0)::bigint END AS entropy_micro
FROM t LEFT JOIN e ON t.doc_id = e.doc_id
"""


_CMS_TERMS = sorted(set(STOPWORDS))


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.cms_term_counts(_docs(spark, sf_dir), _CMS_TERMS)


# mirrors dedup.cms_term_counts depth=4 width=1024: slot_d(t) = 28-bit
# md5 prefix of 'd|t' mod width; estimate = min counter, empty slot = 0
def _sql_cms_counts() -> str:
    cand = ", ".join(f"'{t}'" for t in _CMS_TERMS)
    slot = "('0x' || substr(md5(d::varchar || '|' || {v}), 1, 7))::bigint % 1024"
    return f"""
WITH tok AS (SELECT unnest({_TOKS}) AS tok FROM documents),
cells AS (
  SELECT u.d, {slot.format(v='tok')} AS slot
  FROM tok CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS d) u
),
sk AS (SELECT d, slot, count(*) AS cnt FROM cells GROUP BY d, slot),
cand AS (SELECT unnest([{cand}]) AS term),
cs AS (
  SELECT term, u.d, {slot.format(v='term')} AS slot
  FROM cand CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS d) u
)
SELECT term, min(coalesce(cnt, 0))::bigint AS est_count
FROM cs LEFT JOIN sk USING (d, slot) GROUP BY term
"""


def q_error_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-404 detection over documents ∪ synthetic error pages (every
    fourth doc contributes a short served-200 error stub)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    errs = d.where(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.lit("Error 404: Page Not Found - the requested resource does not exist").alias(
            "text"
        ),
    )
    return textops.error_page_filter(d.unionByName(errs))


def _sql_error_pages() -> str:
    from ..operators.textops import ERROR_MARKERS

    hits = " + ".join(
        f"CASE WHEN contains(lower(text), '{m}') THEN 1 ELSE 0 END"
        for m in ERROR_MARKERS
    )
    return f"""
WITH src AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 300000,
         'Error 404: Page Not Found - the requested resource does not exist'
  FROM documents WHERE doc_id % 4 = 0
)
SELECT doc_id, len({_TOKS})::bigint AS n_tokens,
  ({hits})::bigint AS marker_hits,
  (({hits}) >= 1 AND len({_TOKS}) < 50) AS is_error
FROM src
"""


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.inverted_index(_docs(spark, sf_dir))


# mirrors textops.inverted_index seg_buckets=8; parallel unnest zips toks
# with their 1-based subscripts (DuckDB positional-zip semantics)
_SQL_INVERTED_INDEX = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tok AS (
  SELECT doc_id, unnest(generate_series(1, len(toks))) - 1 AS pos,
         unnest(toks) AS term
  FROM t
),
perdoc AS (
  SELECT term, doc_id % 8 AS seg, doc_id,
         doc_id::varchar || ':' ||
           array_to_string(list(pos ORDER BY pos), '|') AS entry,
         count(*) AS tf
  FROM tok GROUP BY term, doc_id % 8, doc_id
)
SELECT term, seg::bigint AS seg, count(*)::bigint AS n_docs,
       sum(tf)::bigint AS n_postings,
       string_agg(entry, ';' ORDER BY doc_id) AS postings
FROM perdoc GROUP BY term, seg
"""


def q_bloom_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction: screen the corpus's content
    fingerprints against a blocklist (every 10th doc's fingerprint)."""
    d = _docs(spark, sf_dir).select("doc_id", F.md5("text").alias("fp"))
    block = d.where(F.col("doc_id") % 10 == 0).select("fp")
    return relational.bloom_semijoin(d, block, "fp", "doc_id")


# mirrors relational.bloom_semijoin bits=8192 hashes=3: slot_h(k) = 28-bit
# md5 prefix of 'h|k' mod bits; candidate = all three slots present
_SQL_BLOOM_BLOCKLIST = """
WITH d AS (SELECT doc_id, md5(text) AS fp FROM documents),
b AS (SELECT fp FROM d WHERE doc_id % 10 = 0),
bp AS (
  SELECT DISTINCT
    ('0x' || substr(md5(h.h || '|' || fp), 1, 7))::bigint % 8192 AS pos
  FROM b CROSS JOIN (SELECT unnest(['0', '1', '2']) AS h) h
),
pe AS (
  SELECT doc_id, fp,
    ('0x' || substr(md5(h.h || '|' || fp), 1, 7))::bigint % 8192 AS pos
  FROM d CROSS JOIN (SELECT unnest(['0', '1', '2']) AS h) h
),
fl AS (
  SELECT doc_id, fp, (count(bp.pos) = 3) AS bloom_candidate
  FROM pe LEFT JOIN bp ON pe.pos = bp.pos
  GROUP BY doc_id, fp
)
SELECT doc_id, fp, bloom_candidate,
       (bloom_candidate AND fp IN (SELECT fp FROM b)) AS is_listed
FROM fl
"""


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.winnow_fingerprints(_docs(spark, sf_dir))


_SQL_WINNOW_FINGERPRINTS = """
WITH h AS (
  SELECT doc_id,
    CASE WHEN length(text) >= 8 THEN
      list_transform(generate_series(1, length(text) - 7),
                     i -> ('0x' || substr(md5(substr(text, i, 8)), 1, 7))::bigint)
    ELSE CAST([] AS BIGINT[]) END AS hs
  FROM documents
), wnd AS (
  SELECT doc_id, hs, len(hs) AS m,
    CASE WHEN len(hs) >= 4 THEN generate_series(1, len(hs) - 3)
         WHEN len(hs) > 0 THEN [1]
         ELSE CAST([] AS BIGINT[]) END AS widx
  FROM h
), sel AS (
  SELECT doc_id, m,
    list_sort(list_distinct(list_transform(
      widx, j -> list_aggregate(hs[j : j + least(4, m) - 1], 'min')))) AS s
  FROM wnd
)
SELECT doc_id, m::bigint AS n_grams, len(s) AS n_selected,
       md5(array_to_string(s, ',')) AS winnow_fp
FROM sel
"""


def q_embedding_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_topk(_tbl(spark, sf_dir, "embeddings"), 9, k=10)


def _sql_embedding_ivf_knn() -> str:
    dist = (
        "list_reduce(list_transform(generate_series(1, len(e.v)),"
        " i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])), (x, y) -> x + y)"
    )
    cos = _COS_SQL.format(a="t.v", b="q.qv")
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v FROM embeddings
),
cents AS (SELECT vec_id AS cell_id, v AS cv FROM e WHERE vec_id < 8),
dists AS (
  SELECT e.vec_id, c.cell_id, {dist} AS dist
  FROM e, cents c
),
mind AS (SELECT vec_id, min(dist) AS md FROM dists GROUP BY vec_id),
cells AS (
  SELECT d.vec_id, min(d.cell_id) AS cell
  FROM dists d JOIN mind m ON d.vec_id = m.vec_id AND d.dist = m.md
  GROUP BY d.vec_id
),
t AS (SELECT e.vec_id, e.v, cells.cell FROM e JOIN cells ON e.vec_id = cells.vec_id),
q AS (SELECT v AS qv, cell AS qcell FROM t WHERE vec_id = 9)
SELECT t.vec_id, round({cos}, 6) AS cosine
FROM t, q WHERE t.vec_id <> 9 AND t.cell = q.qcell
ORDER BY cosine DESC, t.vec_id LIMIT 10
"""


def q_embedding_pq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.pq_topk(_tbl(spark, sf_dir, "embeddings"), 9, k=10)


# mirrors similarity.pq_topk m=4 codes=8: codewords seeded from vec_id<8
# sub-vectors, argmin tiebreak = min code at min dist, ADC sum over
# 6-dp-rounded decimal table entries
def _sql_embedding_pq_knn() -> str:
    sqd = (
        "list_reduce(list_transform(generate_series(1, len({a})),"
        " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v FROM embeddings
),
sub AS (
  SELECT vec_id, u.s AS sub,
         v[u.s * (len(v) // 4) + 1 : (u.s + 1) * (len(v) // 4)] AS sv
  FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS s) u
),
cb AS (SELECT sub, vec_id AS code, sv AS cv FROM sub WHERE vec_id < 8),
d AS (
  SELECT sub.vec_id, sub.sub, cb.code, {sqd.format(a='sub.sv', b='cb.cv')} AS dist
  FROM sub JOIN cb USING (sub)
),
mind AS (SELECT vec_id, sub, min(dist) AS md FROM d GROUP BY vec_id, sub),
enc AS (
  SELECT d.vec_id, d.sub, min(d.code) AS code
  FROM d JOIN mind ON d.vec_id = mind.vec_id AND d.sub = mind.sub
                  AND d.dist = mind.md
  GROUP BY d.vec_id, d.sub
),
q AS (SELECT sub, sv AS qv FROM sub WHERE vec_id = 9),
dt AS (
  SELECT q.sub, cb.code,
         round({sqd.format(a='q.qv', b='cb.cv')}, 6)::decimal(28,12) AS qd
  FROM q JOIN cb USING (sub)
),
s AS (
  SELECT enc.vec_id, sum(dt.qd) AS s
  FROM enc JOIN dt ON enc.sub = dt.sub AND enc.code = dt.code
  WHERE enc.vec_id <> 9 GROUP BY enc.vec_id
)
SELECT vec_id, s::double AS adist FROM s ORDER BY adist, vec_id LIMIT 10
"""


def q_ivf_refined_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with ONE k-means refinement iteration (assign -> decimal-exact
    component means -> re-assign); output = per-cell population stats. The
    whole loop is corpus x broadcast(n_cells) — nothing corpus-sized is
    broadcast (the round-1 ivf_assign defect)."""
    emb = _tbl(spark, sf_dir, "embeddings")
    assigned = similarity.ivf_assign(emb, 8, refine_iters=1)
    return _as_long(
        assigned.groupBy("cell")
        .agg(
            F.count("*").alias("n_vecs"),
            F.min("vec_id").alias("min_vec"),
            F.max("vec_id").alias("max_vec"),
        )
        .orderBy("cell"),
        "cell",
        "n_vecs",
        "min_vec",
        "max_vec",
    )


def _sql_ivf_refined_assign() -> str:
    dist = (
        "list_reduce(list_transform(generate_series(1, len(e.v)),"
        " i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])), (x, y) -> x + y)"
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v FROM embeddings
),
c0 AS (SELECT vec_id AS cell_id, v AS cv FROM e WHERE vec_id < 8),
d0 AS (SELECT e.vec_id, c.cell_id, {dist} AS dist FROM e, c0 c),
m0 AS (SELECT vec_id, min(dist) AS md FROM d0 GROUP BY vec_id),
a0 AS (
  SELECT d.vec_id, min(d.cell_id) AS cell
  FROM d0 d JOIN m0 ON d.vec_id = m0.vec_id AND d.dist = m0.md
  GROUP BY d.vec_id
),
u AS (
  SELECT a0.cell, e.v, unnest(generate_series(1, len(e.v))) AS i
  FROM e JOIN a0 USING (vec_id)
),
comp AS (SELECT cell, i, round(v[i], 12)::decimal(28,12) AS cmp FROM u),
cm AS (
  SELECT cell AS cell_id, i, sum(cmp)::double / count(*) AS cv_i
  FROM comp GROUP BY cell, i
),
c1 AS (SELECT cell_id, list(cv_i ORDER BY i) AS cv FROM cm GROUP BY cell_id),
d1 AS (SELECT e.vec_id, c.cell_id, {dist} AS dist FROM e, c1 c),
m1 AS (SELECT vec_id, min(dist) AS md FROM d1 GROUP BY vec_id),
a1 AS (
  SELECT d.vec_id, min(d.cell_id) AS cell
  FROM d1 d JOIN m1 ON d.vec_id = m1.vec_id AND d.dist = m1.md
  GROUP BY d.vec_id
)
SELECT cell, count(*) AS n_vecs, min(vec_id) AS min_vec, max(vec_id) AS max_vec
FROM a1 GROUP BY cell ORDER BY cell
"""


def q_embedding_batch_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _as_long(
        similarity.batch_topk(
            _tbl(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4], k=3
        ),
        "rank",
    )


def _sql_embedding_batch_knn() -> str:
    cos = _COS_SQL.format(a="c.v", b="q.qv")
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0,1,2,3,4)),
scored AS (
  SELECT q.query_id, c.vec_id, round({cos}, 6) AS cosine
  FROM e c, q WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id)
      AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 3
ORDER BY query_id, rank
"""


# shared cosine SQL (pinned evaluation order — mirrors similarity.cosine_expr)
_COS_SQL = (
    "list_reduce(list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i]),"
    " (x, y) -> x + y)"
    " / (sqrt(list_reduce(list_transform({a}, x -> x * x), (x, y) -> x + y))"
    " * sqrt(list_reduce(list_transform({b}, x -> x * x), (x, y) -> x + y)))"
)


def _sign_bucket_sql(vec: str, dims: int) -> str:
    return " || ".join(
        f"(CASE WHEN {vec}[{i + 1}]::double >= 0 THEN '+' ELSE '-' END)"
        for i in range(dims)
    )


def q_embedding_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk(_tbl(spark, sf_dir, "embeddings"), 0, k=10)


def _sql_embedding_knn() -> str:
    cos = _COS_SQL.format(a="e.v", b="q.qv")
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v FROM embeddings
),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT e.vec_id, round({cos}, 6) AS cosine
FROM e, q WHERE e.vec_id <> 0
ORDER BY cosine DESC, e.vec_id LIMIT 10
"""


def q_embedding_knn_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.bucketed_topk(
        _tbl(spark, sf_dir, "embeddings"), 0, k=10, bucket_dims=2
    )


def _sql_embedding_knn_bucketed() -> str:
    cos = _COS_SQL.format(a="e.v", b="q.qv")
    bucket = _sign_bucket_sql("embedding", 2)
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v,
         {bucket} AS bucket
  FROM embeddings
),
q AS (SELECT v AS qv, bucket AS qbucket FROM e WHERE vec_id = 0)
SELECT e.vec_id, round({cos}, 6) AS cosine
FROM e, q WHERE e.vec_id <> 0 AND e.bucket = q.qbucket
ORDER BY cosine DESC, e.vec_id LIMIT 10
"""


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8 sign dims: a >=0.99-cosine near-dup flips a coordinate sign with
    vanishing probability (exact copies never do), so widening the bucket
    key costs no recall here while cutting in-bucket candidate pairs ~16x
    vs 4 dims (measured 6.0s -> sub-second at sf0.1)."""
    emb = _tbl(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    emb2 = emb.unionByName(emb.withColumn("vec_id", F.col("vec_id") + 100000))
    return dedup.embedding_near_dups(emb2, threshold=0.99, bucket_dims=8)


def _sql_embedding_near_dups() -> str:
    cos = _COS_SQL.format(a="l.v", b="r.v")
    bucket = _sign_bucket_sql("embedding", 8)
    return f"""
WITH e2 AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings
),
b AS (
  SELECT vec_id AS vid, list_transform(embedding, x -> x::double) AS v,
         {bucket} AS bucket
  FROM e2
)
SELECT l.vid AS id_a, r.vid AS id_b, round({cos}, 6) AS cosine
FROM b l JOIN b r ON l.bucket = r.bucket AND l.vid < r.vid
WHERE round({cos}, 6) >= 0.99::double
"""




def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (textops.cdc_chunks — round 4): gram-hash
    gated chunk boundaries, the byte-level dedup primitive. The oracle
    restates the same construction with DuckDB list functions."""
    return textops.cdc_chunks(_docs(spark, sf_dir))


_SQL_CDC_CHUNKS = """
WITH g AS (
  SELECT doc_id, text, length(text)::int AS n,
    CASE WHEN length(text) >= 8 THEN
      list_filter(
        list_transform(range((length(text) - 7)::int),
          i -> CASE WHEN ('0x' || substr(md5(substr(text, (i + 1)::int, 8)), 1, 7))::bigint
                         % 32 = 0
               THEN (i + 8)::int END),
        x -> x IS NOT NULL)
    ELSE []::int[] END AS cuts
  FROM documents
),
b AS (SELECT doc_id, text, [0] || cuts || [n] AS bounds FROM g),
p AS (
  SELECT doc_id, text,
    list_filter(
      list_transform(range(len(bounds) - 1),
        j -> {'a': bounds[(j + 1)::int], 'e': bounds[(j + 2)::int]}),
      s -> s.e > s.a) AS pairs
  FROM b
),
u AS (
  SELECT doc_id, text,
    unnest(range(len(pairs)))::bigint AS chunk_id,
    unnest(pairs) AS s
  FROM p
)
SELECT doc_id, chunk_id,
  s.a::bigint AS start,
  (s.e - s.a)::bigint AS n_chars,
  md5(substr(text, (s.a + 1)::int, (s.e - s.a)::int)) AS chunk_hash
FROM u
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication (similarity.semantic_dedup —
    round 4, arXiv:2303.09540): k-means cells, within-cell cosine pairs,
    drop the pair member nearer its centroid. Same planted-duplicate
    corpus as embedding_near_dups (union of an id+100000 copy): every
    copied pair is an exact tie on centroid distance, so exactly the
    +100000 member must drop."""
    emb = _tbl(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    emb2 = emb.unionByName(emb.withColumn("vec_id", F.col("vec_id") + 100000))
    return similarity.semantic_dedup(emb2, n_cells=8, threshold=0.99)


def _sql_semantic_dedup() -> str:
    sqd = (
        "list_reduce(list_transform(generate_series(1, len({a})),"
        " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
    )
    cos = _COS_SQL.format(a="l.v", b="r.v")
    return f"""
WITH e2 AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings
),
e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v FROM e2
),
c AS (SELECT vec_id AS cell_id, v AS cv FROM e WHERE vec_id < 8),
d AS (
  SELECT e.vec_id, c.cell_id, {sqd.format(a="e.v", b="c.cv")} AS dist
  FROM e, c
),
m AS (SELECT vec_id, min(dist) AS md FROM d GROUP BY 1),
a AS (
  SELECT d.vec_id, min(d.cell_id) AS cell, min(m.md) AS dist
  FROM d JOIN m ON d.vec_id = m.vec_id AND d.dist = m.md
  GROUP BY 1
),
av AS (SELECT a.vec_id, a.cell, a.dist, e.v FROM a JOIN e USING (vec_id)),
p AS (
  SELECT l.vec_id AS id_a, r.vec_id AS id_b, l.dist AS da, r.dist AS db
  FROM av l JOIN av r ON l.cell = r.cell AND l.vec_id < r.vec_id
  WHERE round({cos}, 6) >= 0.99::double
),
losers AS (
  SELECT DISTINCT CASE WHEN da < db THEN id_a
                       WHEN db < da THEN id_b
                       ELSE greatest(id_a, id_b) END AS vec_id
  FROM p
)
SELECT av.vec_id, av.cell::bigint AS cell,
  floor(av.dist * 1000000.0)::bigint AS dist_micro,
  (losers.vec_id IS NULL) AS kept
FROM av LEFT JOIN losers USING (vec_id)
"""


_SQL_SEMANTIC_DEDUP = _sql_semantic_dedup()


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters (dedup.heavy_hitters): tokens with
    count >= N/200, discovered by per-partition Misra-Gries candidate
    summaries and confirmed by an exact candidates-only recount — the
    sketch affects only pruning, never the answer, so the oracle is the
    plain exact HAVING over the same token stream."""
    return dedup.heavy_hitters(_docs(spark, sf_dir), denom=200)


_SQL_HEAVY_HITTERS = f"""
WITH toks AS (SELECT unnest({_TOKS}) AS token FROM documents),
tot AS (SELECT count(*) AS n FROM toks)
SELECT token, count(*)::bigint AS n FROM toks GROUP BY token
HAVING count(*) * 200 >= (SELECT n FROM tot)
"""


# ---------------------------------------------------------------------------
# split_leakage
# ---------------------------------------------------------------------------


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination under two split policies
    (sampling.split_leakage): corpus = documents ∪ exact copies whose
    source stays the same except every 5th copy lands on a 'mirror'
    domain — so the by-document hash split strands many duplicate pairs
    across the boundary while the by-domain split leaks only the
    cross-domain mirrors."""
    from ..operators.sampling import split_leakage

    d = _docs(spark, sf_dir).select("doc_id", "text", "source")
    copies = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        "text",
        F.when(F.col("doc_id") % 5 == 0, F.lit("mirror"))
        .otherwise(F.col("source"))
        .alias("source"),
    )
    corpus = d.unionByName(copies)
    return split_leakage(
        corpus, F.col("doc_id"), F.col("source"), test_pct=10
    )


_SQL_SPLIT_LEAKAGE = """
WITH corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 100000, text,
    CASE WHEN doc_id % 5 = 0 THEN 'mirror' ELSE source END
  FROM documents
),
f AS (
  SELECT md5(text) AS dup,
    CASE WHEN ('0x' || substr(md5(doc_id::varchar), 1, 7))::bigint
              % 10000 < 1000 THEN 1 ELSE 0 END AS ta,
    CASE WHEN ('0x' || substr(md5(source), 1, 7))::bigint
              % 10000 < 1000 THEN 1 ELSE 0 END AS tb
  FROM corpus
),
g AS (
  SELECT dup, count(*)::bigint AS n,
    sum(ta)::bigint AS na, sum(tb)::bigint AS nb
  FROM f GROUP BY dup
),
t AS (
  SELECT sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END)::bigint AS dup_groups,
    sum(n * (n - 1) // 2)::bigint AS dup_pairs,
    sum(na * (n - na))::bigint AS cross_a,
    sum(nb * (n - nb))::bigint AS cross_b
  FROM g
)
SELECT 'by_doc' AS policy, dup_groups, dup_pairs,
  cross_a AS cross_pairs,
  (CASE WHEN dup_pairs > 0 THEN (cross_a * 1000000) // dup_pairs
        ELSE 0 END)::bigint AS leak_ppm
FROM t
UNION ALL
SELECT 'by_domain', dup_groups, dup_pairs, cross_b,
  (CASE WHEN dup_pairs > 0 THEN (cross_b * 1000000) // dup_pairs
        ELSE 0 END)::bigint
FROM t
"""


# ---------------------------------------------------------------------------
# global_shuffle
# ---------------------------------------------------------------------------


def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training permutation (sampling.global_shuffle):
    contiguous positions 0..N-1 in md5-hash order via the bucketed
    two-phase rank — the oracle states the naive global row_number."""
    from ..operators.sampling import global_shuffle

    return global_shuffle(_docs(spark, sf_dir))


_SQL_GLOBAL_SHUFFLE = """
SELECT doc_id, rh AS rank_hash,
  (row_number() OVER (ORDER BY rh, doc_id) - 1)::bigint AS position
FROM (
  SELECT doc_id,
    ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint AS rh
  FROM documents
)
"""


# ---------------------------------------------------------------------------
# curriculum_order
# ---------------------------------------------------------------------------


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum schedule (sampling.curriculum_order): quartile phases
    by exact n_chars quantiles from the bounded distribution sketch,
    contiguous md5-order positions within each phase via the bucketed
    two-phase rank. Oracle = naive per-phase row_number."""
    from ..operators.sampling import curriculum_order

    return curriculum_order(_docs(spark, sf_dir))


_SQL_CURRICULUM_ORDER = """
WITH d AS (SELECT doc_id, n_chars::bigint AS v FROM documents),
dist AS (SELECT v, count(*) AS cnt FROM d GROUP BY v),
cum AS (
  SELECT v, sum(cnt) OVER (ORDER BY v) AS c,
    (SELECT count(*) FROM d) AS n
  FROM dist
),
th AS (
  SELECT
    min(CASE WHEN c >= (250000 * n + 999999) // 1000000 THEN v END) AS q25,
    min(CASE WHEN c >= (500000 * n + 999999) // 1000000 THEN v END) AS q50,
    min(CASE WHEN c >= (750000 * n + 999999) // 1000000 THEN v END) AS q75
  FROM cum
),
ph AS (
  SELECT doc_id,
    (CASE WHEN v <= q25 THEN 0 WHEN v <= q50 THEN 1
          WHEN v <= q75 THEN 2 ELSE 3 END)::bigint AS phase,
    ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint AS rh
  FROM d, th
)
SELECT doc_id, phase,
  (row_number() OVER (PARTITION BY phase ORDER BY rh, doc_id)
   - 1)::bigint AS position
FROM ph
"""


# ---------------------------------------------------------------------------
# cluster_sample
# ---------------------------------------------------------------------------


def q_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage cluster sampling (sampling.cluster_sample): 50% of
    sources, 20% of pages within them, Horvitz-Thompson weight 10.0
    (micro) on every emitted row."""
    from ..operators.sampling import cluster_sample

    return cluster_sample(_docs(spark, sf_dir), group_pct=50, row_pct=20)


_SQL_CLUSTER_SAMPLE = """
SELECT source, doc_id, 10000000::bigint AS weight_micro
FROM documents
WHERE ('0x' || substr(md5('g|' || source), 1, 7))::bigint % 10000 < 5000
  AND ('0x' || substr(md5('r|' || doc_id::varchar), 1, 7))::bigint
      % 10000 < 2000
"""


# ---------------------------------------------------------------------------
# multiprobe_knn
# ---------------------------------------------------------------------------


def q_multiprobe_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH top-k (similarity.multiprobe_topk): the
    query's 4-dim sign bucket plus its four Hamming-1 neighbors,
    equi-joined — recall recovered without halving the key width."""
    return similarity.multiprobe_topk(
        _tbl(spark, sf_dir, "embeddings"), 0, k=10, bucket_dims=4
    )


def _sql_multiprobe_knn(dims: int = 4) -> str:
    cos = _COS_SQL.format(a="e.v", b="p.qv")
    bucket = _sign_bucket_sql("embedding", dims)
    flips = "\n  UNION ALL ".join(
        "SELECT qv, substr(qb, 1, {pm1}) || "
        "(CASE WHEN substr(qb, {p}, 1) = '+' THEN '-' ELSE '+' END)"
        " || substr(qb, {pp1}) AS bucket FROM q".format(
            pm1=i, p=i + 1, pp1=i + 2
        )
        for i in range(dims)
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v,
         {bucket} AS bucket
  FROM embeddings
),
q AS (SELECT v AS qv, bucket AS qb FROM e WHERE vec_id = 0),
probes AS (
  SELECT qv, qb AS bucket FROM q
  UNION ALL {flips}
)
SELECT e.vec_id, round({cos}, 6) AS cosine
FROM e JOIN probes p ON e.bucket = p.bucket
WHERE e.vec_id <> 0
ORDER BY cosine DESC, e.vec_id LIMIT 10
"""


# ---------------------------------------------------------------------------
# ndcg_eval
# ---------------------------------------------------------------------------


def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the bucketed ANN layer vs exact brute force
    (similarity.ndcg_eval) — integer-literal discount table, zero
    runtime float logs."""
    return similarity.ndcg_eval(
        _tbl(spark, sf_dir, "embeddings"), 0, k=10, bucket_dims=4
    )


def _sql_ndcg_eval(k: int = 10, dims: int = 4) -> str:
    cos = _COS_SQL.format(a="e.v", b="q.qv")
    bucket = _sign_bucket_sql("embedding", dims)
    disc = list(similarity.NDCG_DISCOUNT_MICRO[:k])
    idcg = sum((k + 1 - (i + 1)) * disc[i] for i in range(k))
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v,
         {bucket} AS bucket
  FROM embeddings
),
q AS (SELECT v AS qv, bucket AS qb FROM e WHERE vec_id = 0),
ex AS (
  SELECT vec_id,
    row_number() OVER (ORDER BY cosine DESC, vec_id) AS ex_rank
  FROM (
    SELECT e.vec_id, round({cos}, 6) AS cosine
    FROM e, q WHERE e.vec_id <> 0
    ORDER BY cosine DESC, e.vec_id LIMIT {k}
  )
),
ap AS (
  SELECT vec_id,
    row_number() OVER (ORDER BY cosine DESC, vec_id) AS pos
  FROM (
    SELECT e.vec_id, round({cos}, 6) AS cosine
    FROM e, q WHERE e.vec_id <> 0 AND e.bucket = q.qb
    ORDER BY cosine DESC, e.vec_id LIMIT {k}
  )
),
d AS (
  SELECT unnest({disc}) AS disc,
    unnest(generate_series(1, {k})) AS pos
),
t AS (
  SELECT sum((CASE WHEN ex.ex_rank IS NOT NULL
                   THEN {k + 1} - ex.ex_rank ELSE 0 END)
             * d.disc)::bigint AS dcg
  FROM ap JOIN d USING (pos) LEFT JOIN ex USING (vec_id)
)
SELECT {k}::bigint AS k, coalesce(dcg, 0)::bigint AS dcg_micro,
  {idcg}::bigint AS idcg_micro,
  ((coalesce(dcg, 0) * 1000000) // {idcg})::bigint AS ndcg_ppm
FROM t
"""


# ---------------------------------------------------------------------------
# fixed_size_sample
# ---------------------------------------------------------------------------


def q_fixed_size_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced eval-set builder (sampling.fixed_size_sample): the 5
    smallest-hash docs per source — WindowGroupLimit pushes the top-k
    below the shuffle."""
    from ..operators.sampling import fixed_size_sample

    return fixed_size_sample(_docs(spark, sf_dir), k=5)


_SQL_FIXED_SIZE_SAMPLE = """
WITH h AS (
  SELECT source, doc_id,
    ('0x' || substr(md5('fs|' || doc_id::varchar), 1, 7))::bigint
      % 10000 AS hb
  FROM documents
),
r AS (
  SELECT source, doc_id,
    row_number() OVER (PARTITION BY source ORDER BY hb, doc_id)
      AS sample_rank
  FROM h
)
SELECT source, doc_id, sample_rank::bigint AS sample_rank
FROM r WHERE sample_rank <= 5
"""


# ---------------------------------------------------------------------------
# random_projection / jl_distortion (round 4)
# ---------------------------------------------------------------------------


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL ±1 random projection (similarity.random_projection) of the
    64-dim embeddings to 16 micro-quantized dims — per-row decimal
    folds, zero exchanges; the md5-parity sign matrix is shared verbatim
    with the oracle's VALUES table."""
    return similarity.random_projection(
        _tbl(spark, sf_dir, "embeddings"), dim=64, k=16
    )


def _jl_sql_parts(dim: int = 64, k: int = 16) -> tuple[str, str]:
    from ..operators.similarity import jl_signs

    signs = jl_signs(dim, k)
    vals = ",\n  ".join(
        "(" + ", ".join([str(i)] + [str(signs[i][j]) for j in range(k)]) + ")"
        for i in range(dim)
    )
    scols = ", ".join(f"s_{j}" for j in range(k))
    return (
        f"s(i, {scols}) AS (VALUES\n  {vals}\n)",
        """e AS (
  SELECT vec_id, unnest(list_transform(embedding, v -> v::double)) AS x,
         unnest(range(len(embedding))) AS i
  FROM embeddings
)""",
    )


def _sql_random_projection(dim: int = 64, k: int = 16) -> str:
    s_cte, e_cte = _jl_sql_parts(dim, k)
    projs = ",\n  ".join(
        f"floor(sum(round(x * s_{j}, 12)::decimal(28,12)) * 1000000)"
        f"::bigint AS proj_micro_{j}"
        for j in range(k)
    )
    return f"""
WITH {s_cte},
{e_cte}
SELECT vec_id::bigint AS vec_id,
  {projs}
FROM e JOIN s USING (i)
GROUP BY vec_id
"""


def q_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL isometry gauge (similarity.jl_distortion): per-vector ratio of
    projected to k x original squared norm, exact integers throughout
    with one pinned double division — the empirical check that the
    16-dim sketch preserves distances."""
    return similarity.jl_distortion(
        _tbl(spark, sf_dir, "embeddings"), dim=64, k=16
    )


def _sql_jl_distortion(dim: int = 64, k: int = 16) -> str:
    s_cte, e_cte = _jl_sql_parts(dim, k)
    projs = ",\n    ".join(
        f"floor(sum(round(x * s_{j}, 12)::decimal(28,12)) * 1000000)"
        f"::bigint AS p_{j}"
        for j in range(k)
    )
    sq = " + ".join(f"p_{j} * p_{j}" for j in range(k))
    return f"""
WITH {s_cte},
{e_cte},
p AS (
  SELECT vec_id::bigint AS vec_id,
    (sum(floor(x * x * 1e12)::bigint)::bigint // 1000000)::bigint
      AS orig_sq_micro,
    {projs}
  FROM e JOIN s USING (i)
  GROUP BY vec_id
)
SELECT vec_id, orig_sq_micro,
  ({sq})::bigint AS proj_sq_scaled,
  CASE WHEN orig_sq_micro > 0 THEN
    floor(({sq})::bigint::double
          / ({k} * orig_sq_micro * 1000000)::double * 1000000)::bigint
  END AS ratio_micro
FROM p
"""


# ---------------------------------------------------------------------------
# mmr_select (round 4)
# ---------------------------------------------------------------------------


def q_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diverse top-8 (similarity.mmr_select) for a 5-term query over
    the corpus: codegen relevance scan -> TakeOrdered top-20 -> n^2
    candidate Jaccards -> driver greedy on the bounded table; oracle =
    the same greedy as a recursive CTE."""
    return similarity.mmr_select(
        _docs(spark, sf_dir),
        ["hash", "join", "merge", "sort", "query"],
        n_candidates=20,
        k=8,
    )


_SQL_MMR_SELECT = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id,
    list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')) AS ws
  FROM documents
),
q(qs) AS (SELECT ['hash', 'join', 'merge', 'sort', 'query']),
scored AS (
  SELECT t.doc_id, t.ws,
    (1000000 * len(list_filter(t.ws, x -> list_contains(q.qs, x))))
      // (len(t.ws) + 5 - len(list_filter(t.ws, x -> list_contains(q.qs, x))))
      AS rel_micro
  FROM toks t, q
),
cand AS (
  SELECT doc_id, ws, rel_micro::bigint AS rel_micro
  FROM scored ORDER BY rel_micro DESC, doc_id LIMIT 20
),
sims AS (
  SELECT a.doc_id AS a, b.doc_id AS b,
    ((1000000 * len(list_filter(a.ws, x -> list_contains(b.ws, x))))
      // (len(a.ws) + len(b.ws)
          - len(list_filter(a.ws, x -> list_contains(b.ws, x)))))::bigint
      AS sim_micro
  FROM cand a JOIN cand b ON a.doc_id <> b.doc_id
),
sel AS (
  SELECT 0 AS step, CAST([] AS BIGINT[]) AS picked
  UNION ALL
  SELECT step + 1, list_append(picked, (
    SELECT c.doc_id FROM cand c
    WHERE NOT list_contains(s.picked, c.doc_id)
    ORDER BY 7 * c.rel_micro - 3 * coalesce((
        SELECT max(p.sim_micro) FROM sims p
        WHERE p.a = c.doc_id AND list_contains(s.picked, p.b)), 0) DESC,
      c.doc_id
    LIMIT 1))
  FROM sel s WHERE step < 8
),
fin AS (SELECT picked FROM sel WHERE step = 8),
o AS (
  SELECT unnest(picked) AS doc_id,
    unnest(range(len(picked))) AS r
  FROM fin
)
SELECT (o.r + 1)::bigint AS sel_rank, o.doc_id::bigint AS doc_id,
  (7 * c.rel_micro - 3 * coalesce((
     SELECT max(p.sim_micro) FROM sims p
     JOIN o prev ON prev.doc_id = p.b AND prev.r < o.r
     WHERE p.a = o.doc_id), 0))::bigint AS mmr_score
FROM o JOIN cand c ON c.doc_id = o.doc_id
"""


# ---------------------------------------------------------------------------
# grid_dbscan (round-4 session-14)
# ---------------------------------------------------------------------------


def q_grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-DBSCAN over the sign-LSH lattice (similarity.grid_dbscan):
    density clusters from Hamming-1-adjacent core cells, noise
    aggregated under cluster_id = -1; no pairwise distances anywhere."""
    return similarity.grid_dbscan(
        _tbl(spark, sf_dir, "embeddings"), bucket_dims=6, min_pts=6
    )


def _sql_grid_dbscan(dims: int = 6, min_pts: int = 6) -> str:
    bits = " + ".join(
        f"(CASE WHEN embedding[{j + 1}]::double >= 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(dims)
    )
    masks = [1 << j for j in range(dims)]
    return f"""
WITH RECURSIVE e AS (
  SELECT ({bits})::bigint AS bucket FROM embeddings
),
counts AS (SELECT bucket, count(*)::bigint AS n FROM e GROUP BY 1),
core AS (SELECT bucket, n FROM counts WHERE n >= {min_pts}),
edges AS (
  SELECT c.bucket AS a, xor(c.bucket, m.m)::bigint AS b
  FROM core c, (SELECT unnest({masks})::bigint AS m) m
  WHERE xor(c.bucket, m.m) IN (SELECT bucket FROM core)
    AND xor(c.bucket, m.m) > c.bucket
),
sym AS (
  SELECT a AS src_n, b AS dst_n FROM edges
  UNION ALL SELECT b, a FROM edges
),
walk(node, lbl) AS (
  SELECT bucket, bucket FROM core
  UNION
  SELECT s.dst_n, w.lbl FROM walk w JOIN sym s ON s.src_n = w.node
),
cc AS (SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY node),
per AS (
  SELECT cluster_id::bigint AS cluster_id, count(*)::bigint AS n_buckets,
    sum(core.n)::bigint AS n_points
  FROM cc JOIN core ON core.bucket = cc.node GROUP BY 1
),
noise AS (
  SELECT -1::bigint AS cluster_id, count(*)::bigint AS n_buckets,
    coalesce(sum(n), 0)::bigint AS n_points
  FROM counts WHERE n < {min_pts}
)
SELECT cluster_id, n_buckets, n_points
FROM (SELECT * FROM per UNION ALL SELECT * FROM noise)
ORDER BY cluster_id
"""


# ---------------------------------------------------------------------------
# pps_sample (round-4 session-15)
# ---------------------------------------------------------------------------


def q_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS sample of 50 documents by n_chars
    (sampling.pps_sample) — seed-stable hash order, bucketed two-phase
    cumsum, all-integer hit multiplicities."""
    from ..operators.sampling import pps_sample

    return pps_sample(_docs(spark, sf_dir), n_target=50)


_SQL_PPS_SAMPLE = """
WITH base AS (
  SELECT doc_id, n_chars::bigint AS size,
    ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint AS rank_hash
  FROM documents WHERE n_chars > 0
),
placed AS (
  SELECT doc_id, size,
    coalesce(sum(size) OVER (ORDER BY rank_hash, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint
      AS start_offset
  FROM base
),
tot AS (
  SELECT greatest(sum(size) // 50, 1)::bigint AS step FROM base
)
SELECT doc_id, size, start_offset,
  ((start_offset + size) // step - start_offset // step)::bigint AS m
FROM placed, tot
WHERE (start_offset + size) // step - start_offset // step >= 1
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# cms_error_audit / bloom_fpr_audit (round-4 session-15)
# ---------------------------------------------------------------------------


def q_cms_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS estimate vs exact count per probed stopword
    (dedup.cms_error_audit) — the sketch-calibration pass; CMS never
    undercounts, so overestimate >= 0 everywhere."""
    return dedup.cms_error_audit(_docs(spark, sf_dir), _CMS_TERMS)


def _sql_cms_error_audit() -> str:
    cand = ", ".join(f"'{t}'" for t in _CMS_TERMS)
    slot = (
        "('0x' || substr(md5(d::varchar || '|' || {v}), 1, 7))::bigint"
        " % 1024"
    )
    return f"""
WITH tok AS (SELECT unnest({_TOKS}) AS tok FROM documents),
cells AS (
  SELECT u.d, {slot.format(v='tok')} AS slot
  FROM tok CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS d) u
),
sk AS (SELECT d, slot, count(*) AS cnt FROM cells GROUP BY d, slot),
cand AS (SELECT unnest([{cand}]) AS term),
cs AS (
  SELECT term, u.d, {slot.format(v='term')} AS slot
  FROM cand CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS d) u
),
est AS (
  SELECT term, min(coalesce(cnt, 0))::bigint AS est_count
  FROM cs LEFT JOIN sk USING (d, slot) GROUP BY term
),
exact AS (
  SELECT tok AS term, count(*)::bigint AS exact_count
  FROM tok WHERE tok IN (SELECT term FROM cand) GROUP BY tok
)
SELECT est.term, coalesce(exact_count, 0)::bigint AS exact_count,
  est_count,
  (est_count - coalesce(exact_count, 0))::bigint AS overestimate
FROM est LEFT JOIN exact ON est.term = exact.term
ORDER BY est.term
"""


def q_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical Bloom FPR (relational.bloom_fpr_audit) over the same
    fingerprint blocklist bloom_blocklist screens — one-row census of
    candidates vs true members."""
    d = _docs(spark, sf_dir).select("doc_id", F.md5("text").alias("fp"))
    block = d.where(F.col("doc_id") % 10 == 0).select("fp")
    from ..operators.relational import bloom_fpr_audit

    return bloom_fpr_audit(d, block, "fp", "doc_id")


_SQL_BLOOM_FPR_AUDIT = f"""
WITH flags AS ({_SQL_BLOOM_BLOCKLIST})
SELECT count(*)::bigint AS n_probe,
  sum(CASE WHEN is_listed THEN 1 ELSE 0 END)::bigint AS n_listed,
  sum(CASE WHEN bloom_candidate THEN 1 ELSE 0 END)::bigint
    AS n_candidates,
  sum(CASE WHEN bloom_candidate AND NOT is_listed THEN 1 ELSE 0 END)
    ::bigint AS n_false_positive,
  CASE WHEN count(*) - sum(CASE WHEN is_listed THEN 1 ELSE 0 END) > 0
    THEN (sum(CASE WHEN bloom_candidate AND NOT is_listed
                   THEN 1 ELSE 0 END) * 1000000)
         // (count(*) - sum(CASE WHEN is_listed THEN 1 ELSE 0 END))
  ELSE 0 END::bigint AS fpr_micro
FROM flags
"""


def q_salted_group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted two-phase aggregation (scale.salt.salted_group_counts)
    — the salting machinery itself under the correctness gate: the
    oracle is the direct groupBy plus the closed-form md5 salt spread."""
    from ..scale.salt import salted_group_counts

    return salted_group_counts(_docs(spark, sf_dir), "source")


_SQL_SALTED_GROUP_COUNTS = """
WITH s AS (
  SELECT source AS g,
    ('0x' || substr(md5(doc_id::varchar), 1, 8))::bigint % 16 AS salt,
    n_chars::bigint AS v
  FROM documents
),
p1 AS (
  SELECT g, salt, count(*)::bigint AS pn, sum(v)::bigint AS pv
  FROM s GROUP BY g, salt
)
SELECT g AS source, sum(pn)::bigint AS n_docs, sum(pv)::bigint AS sum_value,
  count(*)::bigint AS n_salt_parts
FROM p1 GROUP BY g ORDER BY source
"""


# ---------------------------------------------------------------------------
# embedding_sq8 (round-4 session-20)
# ---------------------------------------------------------------------------


def q_embedding_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization audit (similarity.embedding_sq8_audit):
    corpus-global (lo, hi) scale, floor quantization, per-label
    reconstruction MSE in pico-units — every per-element error is one
    pinned double chain floored to bigint BEFORE summation, so no
    float partial-sum order exists to diverge."""
    return similarity.embedding_sq8_audit(_tbl(spark, sf_dir, "embeddings"))


_SQL_EMBEDDING_SQ8 = """
WITH mm AS (
  SELECT min(x::double) AS lo, max(x::double) AS hi
  FROM (SELECT unnest(embedding) AS x FROM embeddings)
),
ex AS (
  SELECT vec_id, label, unnest(embedding)::double AS x FROM embeddings
),
e2 AS (
  -- xr must be the IDENTICAL association as the Spark chain
  -- (lo + (q*(hi-lo))/255): a - b - c is NOT a - (b + c) in IEEE
  SELECT vec_id, label, x,
    lo + floor((x - lo) * 255.0 / (hi - lo)) * (hi - lo) / 255.0 AS xr
  FROM ex, mm
),
e3 AS (
  SELECT vec_id, label,
    floor((x - xr) * (x - xr) * 1000000000000.0)::bigint AS err_pico
  FROM e2
),
per AS (
  SELECT label, count(DISTINCT vec_id)::bigint AS n_vecs,
    (count(*) / count(DISTINCT vec_id))::bigint AS dim,
    sum(err_pico)::bigint AS total_err_pico
  FROM e3 GROUP BY label
)
SELECT label, n_vecs, dim, total_err_pico,
  floor(total_err_pico / (n_vecs * dim))::bigint AS mse_pico
FROM per
"""


# ---------------------------------------------------------------------------
# sq8_recall (round-4 session-20)
# ---------------------------------------------------------------------------


def q_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval impact of int8 scalar quantization: top-10 cosine
    neighbors of query 0 under RECONSTRUCTED (quantize->dequantize)
    vectors vs the exact top-10 — the recall number that decides
    whether the 4x memory saving of ``embedding_sq8`` is free or not.
    Reconstruction shares the exact pinned chain with the audit entry;
    both top-10s use the deterministic (cosine desc, vec_id) order."""
    emb = _tbl(spark, sf_dir, "embeddings")
    mm = emb.select(F.explode("embedding").alias("x")).agg(
        F.min(F.col("x").cast("double")).alias("lo"),
        F.max(F.col("x").cast("double")).alias("hi"),
    )
    lo, hi = F.col("lo"), F.col("hi")
    rec = emb.crossJoin(F.broadcast(mm)).select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: lo
            + F.floor((x.cast("double") - lo) * 255.0 / (hi - lo))
            * (hi - lo)
            / 255.0,
        ).alias("embedding"),
    )
    exact = similarity.cosine_topk(emb, 0, k=10).select("vec_id")
    quant = similarity.cosine_topk(rec, 0, k=10).select("vec_id")
    hit = exact.join(quant, "vec_id").agg(
        F.count("*").cast("long").alias("n_overlap")
    )
    return hit.select(
        F.lit(10).cast("long").alias("k"),
        "n_overlap",
        F.floor(F.col("n_overlap") * 1000000 / 10)
        .cast("long")
        .alias("recall_ppm"),
    )


def _sql_sq8_recall() -> str:
    cos_e = _COS_SQL.format(a="e.v", b="q.qv")
    cos_r = _COS_SQL.format(a="er.v", b="qr.qv")
    return f"""
WITH mm AS (
  SELECT min(x::double) AS lo, max(x::double) AS hi
  FROM (SELECT unnest(embedding) AS x FROM embeddings)
),
e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v
  FROM embeddings
),
er AS (
  SELECT vec_id,
    list_transform(embedding, x ->
      lo + floor((x::double - lo) * 255.0 / (hi - lo)) * (hi - lo)
      / 255.0) AS v
  FROM embeddings, mm
),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
qr AS (SELECT v AS qv FROM er WHERE vec_id = 0),
t_exact AS (
  SELECT e.vec_id FROM e, q WHERE e.vec_id <> 0
  ORDER BY round({cos_e}, 6) DESC, e.vec_id LIMIT 10
),
t_q AS (
  SELECT er.vec_id FROM er, qr WHERE er.vec_id <> 0
  ORDER BY round({cos_r}, 6) DESC, er.vec_id LIMIT 10
)
SELECT 10::bigint AS k, count(*)::bigint AS n_overlap,
  floor(count(*) * 1000000 / 10)::bigint AS recall_ppm
FROM t_exact JOIN t_q USING (vec_id)
"""


# ---------------------------------------------------------------------------
# skew_join_salted (round-4 session-20)
# ---------------------------------------------------------------------------


def q_skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join (scale/salt.salted_join) under the correctness
    gate: a deliberately hot-keyed fact (every 4th doc collapses onto
    the 'hot' key) joined to per-key metadata through the salt
    machinery — the oracle is the PLAIN join restated, so parity proves
    salting is row-exact. Aggregated per key so the check is
    order-free."""
    from ..scale.salt import salted_join

    d = _docs(spark, sf_dir)
    key = F.when(F.col("doc_id") % 4 == 0, F.lit("hot")).otherwise(
        F.col("source")
    )
    fact = d.select(
        "doc_id", key.alias("join_key"), F.col("n_chars").cast("long").alias("w")
    )
    dim = (
        fact.select("join_key")
        .distinct()
        .select(
            "join_key",
            F.length("join_key").cast("long").alias("key_len"),
        )
    )
    joined = salted_join(fact, dim, "join_key", "doc_id", n_salt=8)
    return joined.groupBy("join_key").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("w").cast("long").alias("sum_w"),
        F.max("key_len").cast("long").alias("key_len"),
    )


_SQL_SKEW_JOIN_SALTED = """
WITH fact AS (
  SELECT doc_id,
    CASE WHEN doc_id % 4 = 0 THEN 'hot' ELSE source END AS join_key,
    n_chars::bigint AS w
  FROM documents
),
dim AS (
  SELECT join_key, length(join_key)::bigint AS key_len
  FROM (SELECT DISTINCT join_key FROM fact)
)
SELECT f.join_key, count(*)::bigint AS n_rows, sum(f.w)::bigint AS sum_w,
  max(d.key_len)::bigint AS key_len
FROM fact f JOIN dim d ON d.join_key = f.join_key
GROUP BY f.join_key
"""
