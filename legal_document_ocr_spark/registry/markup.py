"""Registry segment: markup/host metadata extraction (round-4 session-18).

IDN host decode, responsive-image srcset candidates, OpenGraph/Twitter-card
metadata, and the charset-resolution census — by-construction oracles over
deterministically decorated template pages (image_alt_pairs' pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.pages import synthesize_pages_df

# verified stdlib round-trip pairs (host.encode('ascii').decode('idna')):
# ACE form -> unicode form; the last entry is a deliberately-invalid ACE
# label that must error-isolate, not fail the task.
_IDN_PAIRS: tuple[tuple[str, str | None], ...] = (
    ("xn--mnchen-3ya.example.com", "münchen.example.com"),
    ("xn--bcher-kva.example.com", "bücher.example.com"),
    ("xn--h1alffa9f.example.com", "россия.example.com"),
    ("xn--fiqs8s.example.com", "中国.example.com"),
    ("xn--wgv71a.example.com", "日本.example.com"),
    ("xn--3e0b707e.example.com", "한국.example.com"),
    ("xn--caf-dma.example.com", "café.example.com"),
    ("xn--trkiye-3ya.example.com", "türkiye.example.com"),
    ("xn--and-6ma2c.example.com", "ñandú.example.com"),
    ("xn--hxakic4aa.example.com", "ελλάδα.example.com"),
    ("www.example.com", "www.example.com"),  # plain ASCII passthrough
    ("xn--zzzzzz.example.com", None),  # malformed ACE -> ok=0
)


def q_idn_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDN host decode (urls.idn_decode_hosts) over a corpus cycling
    through 10 verified punycode hosts, one ASCII host, and one malformed
    ``xn--`` label (must error-isolate with ok=0, never fail the task)."""
    from ..operators.urls import idn_decode_hosts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    host = F.element_at(
        F.array(*[F.lit(p[0]) for p in _IDN_PAIRS]),
        (F.col("doc_id") % len(_IDN_PAIRS) + 1).cast("int"),
    )
    # the kernel decodes the 12 DISTINCT hosts once; the per-doc rows join
    # the result back on host — a bounded literal-table broadcast (the
    # 100 TB shape: never run Python over rows a distinct can collapse)
    dd = idn_decode_hosts(
        docs.select(host.alias("host")).distinct(), "host"
    )
    return (
        docs.select("doc_id", host.alias("host"))
        .join(F.broadcast(dd), "host")
        .select("doc_id", "host", "unicode_host", "is_idn", "ok")
    )


def _sql_idn_hosts() -> str:
    ace_case = " ".join(
        f"WHEN {i} THEN '{p[0]}'" for i, p in enumerate(_IDN_PAIRS)
    )
    uni_case = " ".join(
        f"WHEN {i} THEN " + (f"'{p[1]}'" if p[1] is not None else "NULL")
        for i, p in enumerate(_IDN_PAIRS)
    )
    n = len(_IDN_PAIRS)
    return f"""
SELECT doc_id,
  CASE doc_id % {n} {ace_case} END AS host,
  CASE doc_id % {n} {uni_case} END AS unicode_host,
  (doc_id % {n} <> 10)::int AS is_idn,
  (doc_id % {n} <> 11)::int AS ok
FROM documents
"""


def q_srcset_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Responsive-image srcset parse (urls.parse_srcset): every doc gets a
    3-candidate img srcset (width, density, and descriptor-less variants),
    every 3rd doc a second source-tag srcset — two posexplodes, all
    codegen; the descriptor-less candidate must come back NULL."""
    from ..operators.urls import parse_srcset

    pages = synthesize_pages_df(spark, sf_dir)
    did = F.regexp_extract("url", r"/(\d+)$", 1).cast("long")
    ds = did.cast("string")
    deco = F.concat(
        F.decode("html", "UTF-8"),
        F.lit('<img srcset="/i/'), ds, F.lit("-s.jpg 480w, /i/"), ds,
        F.lit("-b.jpg 2x, /i/"), ds, F.lit('.jpg">'),
        F.when(
            did % 3 == 0,
            F.concat(F.lit('<source srcset="/v/'), ds, F.lit('.webp">')),
        ).otherwise(F.lit("")),
    )
    return parse_srcset(pages.select("url", F.encode(deco, "UTF-8").alias("html")))


def _sql_srcset_candidates() -> str:
    return """
WITH u AS (
  SELECT doc_id,
    'https://' || source || '.example.com/' || lang || '/' || doc_id AS url
  FROM documents
)
SELECT url, 0::bigint AS set_pos, 0::bigint AS candidate_pos,
  '/i/' || doc_id || '-s.jpg' AS candidate_url, '480w' AS descriptor FROM u
UNION ALL
SELECT url, 0::bigint, 1::bigint, '/i/' || doc_id || '-b.jpg', '2x' FROM u
UNION ALL
SELECT url, 0::bigint, 2::bigint, '/i/' || doc_id || '.jpg', NULL FROM u
UNION ALL
SELECT url, 1::bigint, 0::bigint, '/v/' || doc_id || '.webp', NULL
FROM u WHERE doc_id % 3 = 0
"""


def q_opengraph_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenGraph/Twitter-card extraction (urls.opengraph_meta) with each
    field planted on its own doc_id stride so every NULL/value combination
    appears; five regexp extracts over one decode, codegen only."""
    from ..operators.urls import opengraph_meta

    pages = synthesize_pages_df(spark, sf_dir)
    did = F.regexp_extract("url", r"/(\d+)$", 1).cast("long")
    ds = did.cast("string")

    def plant(cond, prefix: str, val, suffix: str):
        return F.when(cond, F.concat(F.lit(prefix), val, F.lit(suffix))).otherwise(
            F.lit("")
        )

    deco = F.concat(
        F.decode("html", "UTF-8"),
        plant(did % 2 == 0, '<meta property="og:title" content="T', ds, '">'),
        plant(did % 3 == 0, '<meta property="og:type" content="', F.lit("article"), '">'),
        plant(did % 2 == 0, '<meta property="og:image" content="/og/', ds, '.jpg">'),
        plant(did % 5 == 0, '<meta property="og:url" content="', F.col("url"), '">'),
        plant(did % 7 == 0, '<meta name="twitter:card" content="', F.lit("summary"), '">'),
    )
    return opengraph_meta(pages.select("url", F.encode(deco, "UTF-8").alias("html")))


def _sql_opengraph_meta() -> str:
    return """
SELECT
  'https://' || source || '.example.com/' || lang || '/' || doc_id AS url,
  CASE WHEN doc_id % 2 = 0 THEN 'T' || doc_id END AS og_title,
  CASE WHEN doc_id % 3 = 0 THEN 'article' END AS og_type,
  CASE WHEN doc_id % 2 = 0 THEN '/og/' || doc_id || '.jpg' END AS og_image,
  CASE WHEN doc_id % 5 = 0 THEN
    'https://' || source || '.example.com/' || lang || '/' || doc_id
  END AS og_url,
  CASE WHEN doc_id % 7 = 0 THEN 'summary' END AS twitter_card
FROM documents
"""


def q_charset_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset-resolution census (urls.charset_sniff): UTF-8 BOM planted
    on every 5th doc, a header charset on every 3rd, the template's meta
    charset on all — the WHATWG precedence (BOM > header > meta) decides
    ``effective``. BOM detection reads octets via the latin-1 view."""
    from ..operators.urls import charset_sniff

    pages = synthesize_pages_df(spark, sf_dir)
    did = F.regexp_extract("url", r"/(\d+)$", 1).cast("long")
    payload = F.when(
        did % 5 == 0, F.concat(F.lit(bytes([0xEF, 0xBB, 0xBF])), F.col("html"))
    ).otherwise(F.col("html"))
    ctype = F.when(
        did % 3 == 0, F.lit("text/html; charset=ISO-8859-1")
    ).otherwise(F.lit("text/html"))
    return charset_sniff(
        pages.select(
            "url", payload.alias("payload"), ctype.alias("content_type")
        )
    )


def _sql_charset_sniff() -> str:
    return """
SELECT
  'https://' || source || '.example.com/' || lang || '/' || doc_id AS url,
  CASE WHEN doc_id % 5 = 0 THEN 'utf-8' END AS bom,
  CASE WHEN doc_id % 3 = 0 THEN 'iso-8859-1' END AS header_charset,
  'utf-8' AS meta_charset,
  CASE WHEN doc_id % 5 = 0 THEN 'utf-8'
       WHEN doc_id % 3 = 0 THEN 'iso-8859-1'
       ELSE 'utf-8' END AS effective
FROM documents
"""


def _urls(spark: SparkSession, sf_dir: str):
    """(doc_id, url) in the corpus's canonical URL shape."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"), "source", F.lit(".example.com/"), "lang",
            F.lit("/"), F.col("doc_id").cast("string"),
        ).alias("url"),
    )


_CRLF = "\r\n"


def q_cookie_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-Cookie parse (warc.parse_set_cookie): every doc's response sets
    a session cookie whose Secure/HttpOnly/SameSite attributes vary by
    doc_id stride, every 5th doc adds a long-lived tracking cookie
    (Max-Age + Domain), and every BODY carries a decoy Set-Cookie line
    the head-only scan must ignore. All codegen."""
    from ..sources.warc import parse_set_cookie

    u = _urls(spark, sf_dir)
    d = F.col("doc_id")
    line1 = F.concat(
        F.lit("Set-Cookie: sid=s"), d.cast("string"), F.lit("; Path=/"),
        F.when(d % 2 == 0, F.lit("; Secure")).otherwise(F.lit("")),
        F.when(d % 3 == 0, F.lit("; HttpOnly")).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.lit("; SameSite=Lax"))
        .when(d % 4 == 1, F.lit("; SameSite=Strict"))
        .otherwise(F.lit("")),
        F.lit(_CRLF),
    )
    line2 = F.when(
        d % 5 == 0,
        F.concat(
            F.lit("Set-Cookie: track=1; Max-Age="),
            (d * 100).cast("string"),
            F.lit("; Domain=.x.example" + _CRLF),
        ),
    ).otherwise(F.lit(""))
    payload = F.concat(
        F.lit("HTTP/1.1 200 OK" + _CRLF),
        line1,
        F.lit("Content-Type: text/html" + _CRLF),
        line2,
        F.lit(_CRLF + "<html>Set-Cookie: spoof=1; Secure</html>"),
    )
    return parse_set_cookie(u.select("url", payload.alias("payload")))


def _sql_cookie_census() -> str:
    return """
WITH u AS (
  SELECT doc_id,
    'https://' || source || '.example.com/' || lang || '/' || doc_id AS url
  FROM documents
)
SELECT url, 0::bigint AS cookie_idx, 'sid' AS name,
  (doc_id % 2 = 0)::int AS secure,
  (doc_id % 3 = 0)::int AS httponly,
  CASE WHEN doc_id % 4 = 0 THEN 'lax'
       WHEN doc_id % 4 = 1 THEN 'strict' END AS samesite,
  NULL::bigint AS max_age, NULL::varchar AS domain, '/' AS path
FROM u
UNION ALL
SELECT url, 1::bigint, 'track', 0, 0, NULL, doc_id * 100, '.x.example', NULL
FROM u WHERE doc_id % 5 = 0
"""


def q_security_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Security-header census (warc.parse_security_headers): HSTS max-age,
    CSP, X-Frame-Options, Referrer-Policy, nosniff and the Set-Cookie
    count each planted on their own doc_id stride so every NULL/value
    combination appears; the body echoes X-Frame-Options and Set-Cookie
    lines the head-only scan must not count."""
    from ..sources.warc import parse_security_headers

    u = _urls(spark, sf_dir)
    d = F.col("doc_id")
    hline = lambda cond, body: F.when(  # noqa: E731
        cond, F.concat(body, F.lit(_CRLF))
    ).otherwise(F.lit(""))
    payload = F.concat(
        F.lit("HTTP/1.1 200 OK" + _CRLF),
        hline(
            d % 3 == 0,
            F.concat(
                F.lit("Strict-Transport-Security: max-age="),
                (d * 37).cast("string"),
                F.when(d % 6 == 0, F.lit("; includeSubDomains")).otherwise(
                    F.lit("")
                ),
            ),
        ),
        hline(d % 2 == 0, F.lit("Content-Security-Policy: default-src 'self'")),
        hline(d % 5 == 0, F.lit("X-Frame-Options: DENY")),
        hline(d % 5 == 1, F.lit("X-Frame-Options: SAMEORIGIN")),
        hline(d % 7 == 0, F.lit("Referrer-Policy: no-referrer")),
        hline(d % 4 == 0, F.lit("X-Content-Type-Options: nosniff")),
        hline(d % 3 >= 1, F.lit("Set-Cookie: a=1")),
        hline(d % 3 == 2, F.lit("Set-Cookie: b=2; Secure")),
        F.lit(_CRLF),
        F.lit("<html>X-Frame-Options: ALLOWALL" + _CRLF),
        F.lit("Set-Cookie: spoof=1</html>"),
    )
    return parse_security_headers(u.select("url", payload.alias("payload")))


def _sql_security_headers() -> str:
    return """
SELECT
  'https://' || source || '.example.com/' || lang || '/' || doc_id AS url,
  CASE WHEN doc_id % 3 = 0 THEN doc_id * 37 END::bigint AS hsts_max_age,
  (doc_id % 2 = 0)::int AS has_csp,
  CASE WHEN doc_id % 5 = 0 THEN 'deny'
       WHEN doc_id % 5 = 1 THEN 'sameorigin' END AS xfo,
  CASE WHEN doc_id % 7 = 0 THEN 'no-referrer' END AS referrer_policy,
  (doc_id % 4 = 0)::int AS nosniff,
  (doc_id % 3)::bigint AS n_cookies
FROM documents
"""


def q_amp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMP-variant election (urls.amp_canonical_pairs): each document
    yields a canonical page and an /amp variant; every 5th doc's
    canonical omits its rel=amphtml back-link (one-sided AMP claim,
    spam-shaped) and every 7th doc's AMP page omits rel=canonical
    (one-sided canonical claim) — only the bidirectional remainder
    elects keep_url. Every 35th doc claims nothing and must vanish.
    A plain page carrying rel=canonical (the /amp-less every-7th) must
    not read as an AMP claim — the <html amp> marker gates it."""
    from ..operators.urls import amp_canonical_pairs

    u = _urls(spark, sf_dir)
    d = F.col("doc_id")
    canon_html = F.concat(
        F.lit('<html lang="en"><head>'),
        F.when(
            d % 5 != 0,
            F.concat(F.lit('<link rel="amphtml" href="'), F.col("url"), F.lit('/amp">')),
        ).otherwise(F.lit("")),
        F.lit("</head><body>campfire</body></html>"),  # 'amp' substring decoy
    )
    amp_html = F.concat(
        F.lit("<html amp><head>"),
        F.when(
            d % 7 != 0,
            F.concat(F.lit('<link rel="canonical" href="'), F.col("url"), F.lit('">')),
        ).otherwise(F.lit("")),
        F.lit("</head><body>x</body></html>"),
    )
    pages = u.select("url", F.encode(canon_html, "UTF-8").alias("html")).unionByName(
        u.select(
            F.concat(F.col("url"), F.lit("/amp")).alias("url"),
            F.encode(amp_html, "UTF-8").alias("html"),
        )
    )
    return amp_canonical_pairs(pages)


def _sql_amp_pairs() -> str:
    return """
WITH u AS (
  SELECT doc_id,
    'https://' || source || '.example.com/' || lang || '/' || doc_id AS url
  FROM documents
)
SELECT url AS canonical_url, url || '/amp' AS amp_url,
  (doc_id % 7 <> 0)::int AS claimed_by_amp,
  (doc_id % 5 <> 0)::int AS claimed_by_canonical,
  (doc_id % 7 <> 0 AND doc_id % 5 <> 0)::int AS bidirectional,
  CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 <> 0 THEN url END AS keep_url
FROM u
WHERE doc_id % 7 <> 0 OR doc_id % 5 <> 0
"""


def q_license_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC-license detection (urls.license_detect): doc_id%4 rotates
    CC-BY-4.0 via rel=license, CC-BY-NC-ND-3.0 via a plain anchor, CC0,
    and unlicensed; every page also carries prose mentioning 'CC-BY'
    that must never read as a license (URL-anchored detection)."""
    from ..operators.urls import license_detect

    u = _urls(spark, sf_dir)
    d = F.col("doc_id")
    body = (
        F.when(d % 4 == 0, F.lit(
            '<link rel="license" '
            'href="https://creativecommons.org/licenses/by/4.0/">'))
        .when(d % 4 == 1, F.lit(
            '<a rel="license" href="http://creativecommons.org/licenses/'
            'by-nc-nd/3.0/">some rights</a>'))
        .when(d % 4 == 2, F.lit(
            '<a href="https://creativecommons.org/publicdomain/zero/1.0/">'
            'no rights reserved</a>'))
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit("<html><head>"), body,
        F.lit("</head><body><p>prose saying CC-BY is nice</p></body></html>"),
    )
    return license_detect(u.select("url", F.encode(html, "UTF-8").alias("html")))


def _sql_license_detect() -> str:
    return """
SELECT
  'https://' || source || '.example.com/' || lang || '/' || doc_id AS url,
  CASE doc_id % 4 WHEN 0 THEN 'cc-by' WHEN 1 THEN 'cc-by-nc-nd'
       WHEN 2 THEN 'cc0' END AS license,
  CASE doc_id % 4 WHEN 0 THEN '4.0' WHEN 1 THEN '3.0'
       WHEN 2 THEN '1.0' END AS version,
  (doc_id % 4 IN (0, 1))::int AS via_rel_license,
  CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 0 WHEN 2 THEN 1 END AS commercial_ok,
  CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 0 WHEN 2 THEN 1 END AS derivatives_ok
FROM documents
"""


def q_faq_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAQ Q/A mining (urls.faq_pairs): each doc plants doc_id%4 heading+
    paragraph pairs (alternating h2/h3) plus a non-question heading and
    an orphan question with no adjacent <p> — only the real pairs mine."""
    from ..operators.urls import faq_pairs

    u = _urls(spark, sf_dir)
    d = F.col("doc_id")
    ds = d.cast("string")

    def pair(i: int):
        lvl = str(2 + i % 2)
        return F.when(
            d % 4 >= i + 1,
            F.concat(
                F.lit(f"<h{lvl}>Q{i} of doc "), ds, F.lit(f"?</h{lvl}>"),
                F.lit(f"<p>A{i} for "), ds, F.lit(".</p>"),
            ),
        ).otherwise(F.lit(""))

    html = F.concat(
        F.lit("<html><h2>Intro heading</h2><p>not mined</p>"),
        pair(0), pair(1), pair(2),
        F.lit("<h2>Orphan?</h2><div>no p</div></html>"),
    )
    return faq_pairs(u.select("url", F.encode(html, "UTF-8").alias("html")))


def _sql_faq_pairs() -> str:
    return """
WITH u AS (
  SELECT doc_id,
    'https://' || source || '.example.com/' || lang || '/' || doc_id AS url
  FROM documents
), i AS (SELECT unnest(range(3))::bigint AS pair_idx)
SELECT url, pair_idx,
  'Q' || pair_idx || ' of doc ' || doc_id || '?' AS question,
  'A' || pair_idx || ' for ' || doc_id || '.' AS answer
FROM u, i
WHERE doc_id % 4 >= pair_idx + 1
"""


def q_form_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Form census (urls.form_census): every 3rd doc a login form
    (password input, POST), every 4th a search form (type=search),
    every 5th an upload form (type=file, POST), every doc one text
    input baseline; prose mentioning input attributes must not count."""
    from ..operators.urls import form_census

    u = _urls(spark, sf_dir)
    d = F.col("doc_id")
    part = lambda cond, frag: F.when(cond, F.lit(frag)).otherwise(F.lit(""))  # noqa: E731
    html = F.concat(
        F.lit('<html><form method="get"><input type="text" name="t"></form>'),
        part(d % 3 == 0,
             '<form method="post"><input type="password" name="pw"></form>'),
        part(d % 4 == 0, '<form method="get"><input type="search" name="s"></form>'),
        part(d % 5 == 0, '<form method="post"><input type="file" name="f"></form>'),
        F.lit('<p>prose: input type="password" said nobody</p></html>'),
    )
    return form_census(u.select("url", F.encode(html, "UTF-8").alias("html")))


def _sql_form_census() -> str:
    return """
SELECT
  'https://' || source || '.example.com/' || lang || '/' || doc_id AS url,
  (1 + (doc_id % 3 = 0)::int + (doc_id % 4 = 0)::int
     + (doc_id % 5 = 0)::int)::bigint AS n_forms,
  (1 + (doc_id % 3 = 0)::int + (doc_id % 4 = 0)::int
     + (doc_id % 5 = 0)::int)::bigint AS n_inputs,
  (doc_id % 3 = 0)::int AS has_password,
  (doc_id % 4 = 0)::int AS has_search,
  (doc_id % 5 = 0)::int AS has_upload,
  ((doc_id % 3 = 0)::int + (doc_id % 5 = 0)::int)::bigint AS n_post_forms
FROM documents
"""


def q_code_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-block mining (urls.extract_code_blocks): each doc plants
    doc_id%3 blocks — a language-tagged two-line function with escaped
    entities and indentation, a plain <pre>, and a lang-c# one-liner —
    whitespace preserved, entities unescaped one level."""
    from ..operators.urls import extract_code_blocks

    u = _urls(spark, sf_dir)
    d = F.col("doc_id")
    ds = d.cast("string")
    b0 = F.when(
        d % 3 >= 1,
        F.concat(
            F.lit('<pre><code class="language-python">\ndef f'), ds,
            F.lit("(a):\n    return a &lt; "), ds, F.lit("\n</code></pre>"),
        ),
    ).otherwise(F.lit(""))
    b1 = F.when(
        d % 3 >= 2,
        F.concat(F.lit("<pre>plain "), ds, F.lit("\n  indented</pre>")),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><p>pre amble</p>"), b0, b1, F.lit("</html>")
    )
    return extract_code_blocks(
        u.select("url", F.encode(html, "UTF-8").alias("html"))
    )


def _sql_code_blocks() -> str:
    return """
WITH u AS (
  SELECT doc_id,
    'https://' || source || '.example.com/' || lang || '/' || doc_id AS url
  FROM documents
)
SELECT url, 0::bigint AS block_idx, 'python' AS lang_hint,
  'def f' || doc_id || '(a):' || chr(10) || '    return a < ' || doc_id
    AS code,
  2::bigint AS n_lines
FROM u WHERE doc_id % 3 >= 1
UNION ALL
SELECT url, 1::bigint, NULL,
  'plain ' || doc_id || chr(10) || '  indented', 2::bigint
FROM u WHERE doc_id % 3 >= 2
"""


def q_math_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Display-math mining (urls.extract_math_blocks): every 2nd doc a
    $$ block (whitespace-padded — collapses), every 3rd a \\[ \\] block,
    every 5th a MathML element; inline single-dollar prose on every page
    must never pair into a block."""
    from ..operators.urls import extract_math_blocks

    u = _urls(spark, sf_dir)
    d = F.col("doc_id")
    ds = d.cast("string")
    b = lambda cond, *parts: F.when(cond, F.concat(*parts)).otherwise(F.lit(""))  # noqa: E731
    html = F.concat(
        F.lit("<html><p>inline $5 or $9 prose</p>"),
        b(d % 2 == 0, F.lit("<p>$$\n x_"), ds, F.lit(" + 1 \n$$</p>")),
        b(d % 3 == 0, F.lit("<p>\\[ \\frac{"), ds, F.lit("}{2} \\]</p>")),
        b(d % 5 == 0, F.lit("<math><mn>"), ds, F.lit("</mn></math>")),
        F.lit("</html>"),
    )
    return extract_math_blocks(
        u.select("url", F.encode(html, "UTF-8").alias("html"))
    )


def _sql_math_blocks() -> str:
    return """
WITH u AS (
  SELECT doc_id,
    'https://' || source || '.example.com/' || lang || '/' || doc_id AS url
  FROM documents
), rows_ AS (
  SELECT url, doc_id, 0 AS slot, 'latex' AS notation,
    'x_' || doc_id || ' + 1' AS math
  FROM u WHERE doc_id % 2 = 0
  UNION ALL
  SELECT url, doc_id, 1, 'latex', '\\frac{' || doc_id || '}{2}'
  FROM u WHERE doc_id % 3 = 0
  UNION ALL
  SELECT url, doc_id, 2, 'mathml', '<mn>' || doc_id || '</mn>'
  FROM u WHERE doc_id % 5 = 0
)
SELECT url,
  (row_number() OVER (PARTITION BY doc_id ORDER BY slot) - 1)::bigint
    AS block_idx,
  notation, math, length(math)::bigint AS n_chars
FROM rows_
"""


def q_image_harvest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal harvest capstone (urls.harvest_image_candidates): all
    four image sources — captioned img src, srcset, og:image, data-URI —
    mined in ONE fused scan of the payload (the standalone parsers each
    re-read the html column; their unit oracles pin per-source
    semantics, and test_harvest_image_candidates_matches_standalone_
    parsers pins the fusion's equivalence to their composition), then
    deduped per (url, candidate) with precedence election og > img >
    srcset > data (min_by — map-side combined, ONE exchange, no joins).
    Overlaps are planted — every page's srcset repeats the img src,
    every 3rd doc's og:image IS the img src — so the election and
    n_sources are load-bearing. Output: (url, candidate, via,
    n_sources)."""
    from ..operators.urls import harvest_image_candidates

    u = _urls(spark, sf_dir)
    d = F.col("doc_id")
    ds = d.cast("string")
    og_target = F.when(
        d % 3 == 0, F.concat(F.lit("/i/"), ds, F.lit(".jpg"))
    ).otherwise(F.concat(F.lit("/og/"), ds, F.lit(".jpg")))
    html = F.concat(
        F.lit('<html><head><meta property="og:image" content="'),
        og_target, F.lit('">'),
        F.lit('</head><body><img src="/i/'), ds,
        F.lit('.jpg" alt="picture '), ds, F.lit('">'),
        F.lit('<img srcset="/i/'), ds, F.lit(".jpg 2x, /i/"), ds,
        F.lit('-s.jpg 480w" alt="">'),
        F.when(
            d % 5 == 0,
            F.lit('<img src="data:image/gif;base64,R0lGODdh" alt="">'),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    pages = u.select("url", F.encode(html, "UTF-8").alias("html"))
    return harvest_image_candidates(pages).groupBy("url", "candidate").agg(
        F.min_by("via", "prio").alias("via"),
        F.count("*").alias("n_sources"),
    )


def _sql_image_harvest() -> str:
    return """
WITH u AS (
  SELECT doc_id, source, lang,
    'https://' || source || '.example.com/' || lang || '/' || doc_id AS url,
    'https://' || source || '.example.com' AS host
  FROM documents
)
SELECT url, host || '/i/' || doc_id || '.jpg' AS candidate,
  CASE WHEN doc_id % 3 = 0 THEN 'og' ELSE 'img' END AS via,
  -- img src + srcset 2x candidate always; og:image joins every 3rd doc
  (2 + (doc_id % 3 = 0)::int)::bigint AS n_sources
FROM u
UNION ALL
SELECT url, host || '/i/' || doc_id || '-s.jpg', 'srcset', 1::bigint FROM u
UNION ALL
SELECT url, host || '/og/' || doc_id || '.jpg', 'og', 1::bigint
FROM u WHERE doc_id % 3 <> 0
UNION ALL
SELECT url,
  'data:image/gif:' || md5(lower(to_hex(from_base64('R0lGODdh')))),
  'data', 1::bigint
FROM u WHERE doc_id % 5 = 0
"""


def q_page_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-resource census (urls.page_assets): every doc one first-party
    script + d%3 imgs; every 2nd doc a third-party tracker script, every
    5th a protocol-relative ad script (same host as the tracker on every
    10th — distinct-host dedup is load-bearing), every 7th a first-party
    stylesheet, every 4th a third-party iframe; an inline script must
    not count."""
    from ..operators.urls import page_assets

    u = _urls(spark, sf_dir)
    d = F.col("doc_id")
    ds = d.cast("string")
    part = lambda c, frag: F.when(c, frag).otherwise(F.lit(""))  # noqa: E731
    img = F.concat(F.lit('<img src="/i/'), ds, F.lit('.jpg" alt="x">'))
    html = F.concat(
        F.lit('<html><script src="/js/app.js"></script>'),
        F.lit("<script>inline()</script>"),
        part(d % 2 == 0, F.lit('<script src="https://t1.example.net/t.js"></script>')),
        part(
            d % 5 == 0,
            F.when(
                d % 10 == 0,
                F.lit('<script src="//t1.example.net/a.js"></script>'),
            ).otherwise(F.lit('<script src="//ads.example.org/a.js"></script>')),
        ),
        part(d % 7 == 0, F.lit('<link rel="stylesheet" href="/css/m.css">')),
        part(d % 4 == 0, F.lit('<iframe src="https://f.example.io/e"></iframe>')),
        F.when(d % 3 >= 1, img).otherwise(F.lit("")),
        F.when(d % 3 >= 2, img).otherwise(F.lit("")),
        F.lit("</html>"),
    )
    return page_assets(u.select("url", F.encode(html, "UTF-8").alias("html")))


def _sql_page_assets() -> str:
    return """
SELECT
  'https://' || source || '.example.com/' || lang || '/' || doc_id AS url,
  (1 + (doc_id % 2 = 0)::int + (doc_id % 5 = 0)::int)::bigint AS n_scripts,
  (doc_id % 7 = 0)::int::bigint AS n_styles,
  (doc_id % 3)::bigint AS n_imgs,
  (doc_id % 4 = 0)::int::bigint AS n_iframes,
  ((doc_id % 2 = 0)::int + (doc_id % 5 = 0)::int
     + (doc_id % 4 = 0)::int)::bigint AS n_third_party,
  coalesce(array_to_string(list_sort(list_distinct(
    [h FOR h IN [
      CASE WHEN doc_id % 2 = 0 THEN 't1.example.net' END,
      CASE WHEN doc_id % 5 = 0 THEN
        CASE WHEN doc_id % 10 = 0 THEN 't1.example.net'
             ELSE 'ads.example.org' END END,
      CASE WHEN doc_id % 4 = 0 THEN 'f.example.io' END
    ] IF h IS NOT NULL])), ','), '') AS third_party_hosts
FROM documents
"""


_SAFETY_URLS: tuple[tuple[str, int, str, int, int], ...] = (
    # (url-suffix template slot, scheme_ok, host_kind, private, port_ok)
    ("https://site{}.example.com/p", 1, "name", 0, 1),
    ("http://site{}.example.com:8080/p", 1, "name", 0, 1),
    ("http://site{}.example.com:2375/p", 1, "name", 0, 0),
    ("ftp://site{}.example.com/p", 0, "name", 0, 1),
    ("http://169.254.169.254/meta/{}", 1, "ip4", 1, 1),
    ("http://10.1.2.3/x/{}", 1, "ip4", 1, 1),
    ("http://172.20.0.1/x/{}", 1, "ip4", 1, 1),
    ("http://172.15.0.1/x/{}", 1, "ip4", 0, 1),
    ("http://192.168.0.9/x/{}", 1, "ip4", 1, 1),
    ("http://127.0.0.1/x/{}", 1, "ip4", 1, 1),
    ("http://localhost/x/{}", 1, "localhost", 1, 1),
    ("http://8.8.8.8/x/{}", 1, "ip4", 0, 1),
    ("http://999.1.1.1/x/{}", 1, "name", 0, 1),
)


def q_url_safety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSRF fetch gate (urls.url_safety) over a corpus cycling through
    13 vectors: clean names, odd ports, non-http schemes, the cloud
    metadata IP, every RFC 1918 range (plus the 172.15 just-outside
    control), loopback, localhost, a public literal IP, and a malformed
    IPv4 that must read as a NAME."""
    from ..operators.urls import url_safety

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    url = F.element_at(
        F.array(*[F.lit(u[0]) for u in _SAFETY_URLS]),
        (F.col("doc_id") % len(_SAFETY_URLS) + 1).cast("int"),
    )
    url = F.replace(url, F.lit("{}"), F.col("doc_id").cast("string"))
    return url_safety(docs.select(url.alias("url")))


def _sql_url_safety() -> str:
    n = len(_SAFETY_URLS)
    u_case = " ".join(
        f"WHEN {i} THEN '{u[0]}'" for i, u in enumerate(_SAFETY_URLS)
    )
    cases = {}
    for j, name in ((1, "scheme_ok"), (2, "host_kind"), (3, "private_target"), (4, "port_ok")):
        vals = " ".join(
            f"WHEN {i} THEN "
            + (f"'{u[j]}'" if name == "host_kind" else str(u[j]))
            for i, u in enumerate(_SAFETY_URLS)
        )
        cases[name] = f"CASE doc_id % {n} {vals} END"
    fetch = " ".join(
        f"WHEN {i} THEN {int(u[1] == 1 and u[3] == 0 and u[4] == 1)}"
        for i, u in enumerate(_SAFETY_URLS)
    )
    return f"""
SELECT
  replace(CASE doc_id % {n} {u_case} END, '{{}}', doc_id::varchar) AS url,
  {cases['scheme_ok']}::int AS scheme_ok,
  {cases['host_kind']} AS host_kind,
  {cases['private_target']}::int AS private_target,
  {cases['port_ok']}::int AS port_ok,
  CASE doc_id % {n} {fetch} END::int AS fetchable
FROM documents
"""


# --- homoglyph_domains (round-4 session-19) --------------------------------

# planted census cycling by doc_id % 12: three protected brands, six
# confusable spoofs (Cyrillic а/о, Greek ο, digit 0/1), three unrelated
# domains (the suffix-attack shape is documented out of scope for the
# single-label skeleton).
_SPOOF_DOMAINS: tuple[str, ...] = (
    "paypal.com",
    "pаypаl.com",      # Cyrillic а
    "paypa1.com",                # digit 1
    "google.com",
    "gооgle.com",      # Cyrillic о
    "g00gle.com",                # digit 0
    "amazon.com",
    "аmazon.com",           # Cyrillic а
    "amazοn.com",           # Greek ο
    "example.org",
    "news.site",
    "paypal-support.example",
)
_BRAND_DOMAINS: tuple[str, ...] = ("paypal.com", "google.com", "amazon.com")


def q_homoglyph_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusable-skeleton homoglyph spoof census (UTS #39 subset —
    urls.homoglyph_spoofs): domains whose skeleton collides with a
    protected brand while the raw string differs flag is_spoof=1; the
    brand list is bounded-broadcast, the corpus side is one translate()
    at scan speed. Complements idn_hosts (ACE decode) and url_safety
    (pre-network battery)."""
    from ..operators.urls import homoglyph_spoofs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    domain = F.element_at(
        F.array(*[F.lit(s) for s in _SPOOF_DOMAINS]),
        (F.col("doc_id") % len(_SPOOF_DOMAINS) + 1).cast("int"),
    )
    brands = spark.createDataFrame(
        [(b,) for b in _BRAND_DOMAINS], "brand string"
    )
    return homoglyph_spoofs(
        docs.select("doc_id", domain.alias("domain")), brands
    )


def _sql_homoglyph_domains() -> str:
    from ..operators.urls import _CONFUSABLE_DST, _CONFUSABLE_SRC

    dom_case = " ".join(
        f"WHEN {i} THEN '{d}'" for i, d in enumerate(_SPOOF_DOMAINS)
    )
    brand_rows = ", ".join(f"('{b}')" for b in _BRAND_DOMAINS)
    return f"""
WITH d AS (
  SELECT doc_id,
    CASE doc_id % {len(_SPOOF_DOMAINS)} {dom_case} END AS domain
  FROM documents
),
b(brand) AS (SELECT * FROM (VALUES {brand_rows})),
s AS (
  SELECT doc_id, domain,
    translate(lower(domain), '{_CONFUSABLE_SRC}', '{_CONFUSABLE_DST}')
      AS skeleton
  FROM d
)
SELECT doc_id, domain, skeleton, brand,
  (CASE WHEN brand IS NOT NULL AND domain <> brand THEN 1 ELSE 0 END)::int
    AS is_spoof
FROM s LEFT JOIN b
  ON s.skeleton = translate(lower(b.brand),
                            '{_CONFUSABLE_SRC}', '{_CONFUSABLE_DST}')
"""


# ---------------------------------------------------------------------------
# toc_extract (round-4 session-20)
# ---------------------------------------------------------------------------


def q_toc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOC integrity census (urls.toc_extract): each doc plants
    doc_id%4+1 sections with id="s{k}" anchors and matching href="#s{k}"
    TOC links; every 5th doc adds a dangling link (#s9, no target) and
    every doc carries an external href that must not count."""
    from ..operators.urls import toc_extract

    u = _urls(spark, sf_dir)
    d = F.col("doc_id")
    ds = d.cast("string")

    def sec(i: int):
        return F.when(
            d % 4 >= i,
            F.concat(
                F.lit(f'<a href="#s{i}">Section {i}</a>'),
                F.lit(f'<h2 id="s{i}">Section {i} of doc '),
                ds,
                F.lit("</h2>"),
            ),
        ).otherwise(F.lit(""))

    html = F.concat(
        F.lit('<html><a href="https://ext.example.com/">ext</a>'),
        F.lit('<a href="#s0">Section 0</a><h2 id="s0">Section 0</h2>'),
        sec(1),
        sec(2),
        sec(3),
        F.when(d % 5 == 0, F.lit('<a href="#s9">missing</a>')).otherwise(
            F.lit("")
        ),
        F.lit("</html>"),
    )
    return toc_extract(u.select("url", F.encode(html, "UTF-8").alias("html")))


_SQL_TOC_EXTRACT = """
SELECT
  'https://' || source || '.example.com/' || lang || '/' || doc_id AS url,
  (doc_id % 4 + 1 + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)::bigint
    AS n_links,
  (doc_id % 4 + 1)::bigint AS n_resolved,
  (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)::bigint AS n_dangling
FROM documents
"""


# ---------------------------------------------------------------------------
# robots_directive_merge (round-4 session-20)
# ---------------------------------------------------------------------------


def q_robots_directive_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header+meta robots combination census
    (urls.robots_directive_merge): every 3rd doc sends an X-Robots-Tag
    noindex header, every 5th a meta-robots noindex, every 4th a meta
    nofollow — overlapping moduli force real conflicts; the body decoy
    'X-Robots-Tag: noindex' line must never match (head-only scan)."""
    from ..operators.urls import robots_directive_merge

    d = _urls(spark, sf_dir)
    did = F.col("doc_id")
    crlf = "\r\n"
    headers = F.concat(
        F.lit("HTTP/1.1 200 OK" + crlf + "Content-Type: text/html" + crlf),
        F.when(
            did % 3 == 0, F.lit("X-Robots-Tag: noindex" + crlf)
        ).otherwise(F.lit("")),
    )
    meta = F.when(
        did % 5 == 0,
        F.lit('<meta name="robots" content="noindex">'),
    ).otherwise(
        F.when(
            did % 4 == 0,
            F.lit('<meta name="robots" content="nofollow">'),
        ).otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit("<html><head>"),
        meta,
        F.lit("</head><body>X-Robots-Tag: noindex (decoy)</body></html>"),
    )
    return robots_directive_merge(
        d.select(
            "url",
            headers.alias("headers"),
            F.encode(html, "UTF-8").alias("html"),
        )
    )


_SQL_ROBOTS_DIRECTIVE_MERGE = """
WITH d AS (
  SELECT doc_id, source || '.example.com' AS host,
    CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS hn,
    CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS mn,
    CASE WHEN doc_id % 5 <> 0 AND doc_id % 4 = 0 THEN 1 ELSE 0 END AS mf
  FROM documents
),
e AS (
  SELECT host, hn, mn, mf,
    greatest(hn, mn) AS en, mf AS ef,
    CASE WHEN hn <> mn OR 0 <> mf THEN 1 ELSE 0 END AS c
  FROM d
)
SELECT host, count(*)::bigint AS n_pages,
  sum(hn)::bigint AS hdr_noindex,
  sum(mn)::bigint AS meta_noindex,
  sum(en)::bigint AS eff_noindex,
  sum(ef)::bigint AS eff_nofollow,
  sum(c)::bigint AS conflicts
FROM e GROUP BY host
"""
