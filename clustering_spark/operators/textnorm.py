"""Text normalization, PII redaction, and repetition-quality signals
for training-data pipelines (beyond-reference scope, SURVEY §7.6 —
companions to textops.py's quality/lang-ID/fingerprint stack).

Everything here is native string/array expressions (regexp_replace,
regexp_count, higher-order array functions) so the hot path stays
JVM-side in whole-stage codegen; each operator is SQL-expressible and
oracle-checkable. Regex patterns deliberately stay inside the subset
shared by Java regex (Spark) and RE2 (DuckDB) so the same semantics
hold on both sides of the gate.

Scale design: all operators are per-row projections over a single
scan — no shuffle, no UDF, no driver action. At 100 TB they run at
scan speed and compose with the chunker/dedup stages for free.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Shared Java/RE2-compatible patterns. Simple by design: the goal is a
# deterministic, auditable scrub (the standard pre-training hygiene
# pass), not perfect recall.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    # category -> (pattern, replacement token)
    "email": (r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "phone": (r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
    "ssn": (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
}

# Order matters: ssn before phone (a 3-2-4 digit group also matches
# nothing in the phone pattern, but keep the more specific first for
# future pattern edits), ipv4 before phone (dotted quads contain no
# 3-3-4 runs today; same rationale).
PII_ORDER = ["email", "ssn", "ipv4", "phone"]


def normalize_text(text: Column | str, lowercase: bool = False) -> Column:
    """Canonical whitespace form: NON-whitespace control characters
    stripped, all whitespace runs collapsed to single spaces, trimmed.
    The standard pre-tokenization cleanup; with ``lowercase=True`` its
    whitespace handling (collapse then trim) is the normalization
    underneath textops.fingerprint — fingerprint additionally KEEPS
    control characters, so the two agree exactly on
    control-char-free text.

    \\x0b (VT) and \\x0c (FF) are NOT in the strip class (round-16
    review): Java ``\\s`` counts them as whitespace — i.e. token
    separators everywhere else in this codebase — so deleting them
    FUSED the adjacent words ('page one\\x0cStart' -> 'oneStart',
    corrupting tokenization and dedup on PDF-extracted text); left
    in place, the ``\\s+`` collapse turns them into single spaces."""
    t = F.col(text) if isinstance(text, str) else text
    if lowercase:
        t = F.lower(t)
    no_ctrl = F.regexp_replace(t, "[\\x00-\\x08\\x0e-\\x1f\\x7f]", "")
    return F.trim(F.regexp_replace(no_ctrl, r"\s+", " "))


def normalize_unicode(
    df: DataFrame, text_col: str, form: str = "NFC", out_col: str | None = None
) -> DataFrame:
    """Unicode normalization (NFC/NFKC/NFD/NFKD) — the step that makes
    'café' (e + combining acute) and 'café' (precomposed) the same
    bytes BEFORE fingerprinting/dedup, or nothing downstream agrees.

    This is one of the few deliberate Python-path operators: Spark has
    no native unicode-normalize expression, so the kernel is an
    Arrow-batched pandas_udf over stdlib unicodedata — one
    vectorized-transfer pass, no JVM round-trips per row (the
    row-at-a-time UDF ban holds; the batch form is the sanctioned
    escape hatch for exactly this no-native-equivalent case)."""
    import unicodedata

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form: {form}")

    @F.pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: unicodedata.normalize(form, x) if x is not None else None
        )

    return df.withColumn(out_col or text_col, _norm(F.col(text_col)))


def pii_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Append one ``n_pii_<category>`` long column per PII category
    (match counts, not spans) plus ``n_pii_total``. Counting instead of
    extracting keeps the output fixed-width — the filter/reporting
    stage of a scrub pipeline only needs counts.

    Counts are SEQUENTIAL in PII_ORDER — category c is counted on text
    with all earlier categories already redacted — so n_pii_total
    equals exactly the number of tokens redact_pii emits. Independent
    counting double-counted overlaps (an IPv4-looking run inside an
    email matched both patterns) and overstated PII density relative
    to the redacted output. The DuckDB oracle mirrors the same chain
    (queries._pii_count_sql)."""
    cols: dict[str, Column] = {}
    total = F.lit(0).cast("long")
    t = F.col(text_col)
    for cat in PII_ORDER:
        pat, token = PII_PATTERNS[cat]
        c = F.regexp_count(t, F.lit(pat)).cast("long")
        cols[f"n_pii_{cat}"] = c
        total = total + c
        t = F.regexp_replace(t, F.lit(pat), F.lit(token))
    cols["n_pii_total"] = total
    return df.withColumns(cols)


def redact_pii(df: DataFrame, text_col: str, out_col: str = "text_redacted") -> DataFrame:
    """Replace every PII match with its category token (<EMAIL>, <SSN>,
    <IP>, <PHONE>), applied in PII_ORDER so earlier replacements cannot
    create later matches. Pure regexp_replace chain — one projection."""
    t = F.col(text_col)
    for cat in PII_ORDER:
        pat, token = PII_PATTERNS[cat]
        t = F.regexp_replace(t, F.lit(pat), F.lit(token))
    return df.withColumn(out_col, t)


# Java/RE2-shared URL pattern; capture group 1 = host. (?i) catches
# uppercase schemes; the optional non-capturing userinfo group keeps
# 'https://user@host/...' from extracting 'user' as the host — a
# blocklist bypass otherwise. The userinfo class deliberately ALLOWS
# '@' (greedy * + trailing '@' anchors on the LAST '@' before the
# path, the WHATWG rule): excluding it made 'http://x@y@evil.com/'
# extract host 'y' while browsers fetch evil.com — a blocklist
# escape. The host class includes '_': underscored hostnames are
# illegal per RFC but common in the wild, and dropping the char
# truncated 'foo_bar.example.com' to host 'foo' (another escape).
_URL_PATTERN = r"(?i)https?://(?:[^/?#\s]*@)?([A-Za-z0-9._\-]+)(?:[/?#][^\s]*)?"


def extract_domains(
    df: DataFrame, text_col: str, out_col: str = "domains"
) -> DataFrame:
    """Append the array of distinct lower-cased hosts of every http(s)
    URL in the text. Native regexp_extract_all — scan-speed. The host
    is the policy unit of corpus curation (allow/block lists, per-site
    caps), so only group 1 is kept."""
    return df.withColumn(
        out_col,
        F.array_distinct(
            F.transform(
                F.regexp_extract_all(F.col(text_col), F.lit(_URL_PATTERN), 1),
                F.lower,
            )
        ),
    )


def filter_domain_blocklist(
    df: DataFrame,
    id_col: str,
    text_col: str,
    blocked: DataFrame,
    domain_col: str = "domain",
) -> DataFrame:
    """Drop documents citing ANY blocked domain (subdomains of a
    blocked domain count: ads.example.com matches example.com).

    Shape: extract hosts -> explode (ids only) -> broadcast-join the
    blocklist on the suffix condition -> distinct hit ids -> left_anti
    back on the id. The blocklist is a DataFrame (curation lists live
    in tables, not code) and is broadcast — blocklists are small by
    nature; only (id, host) rides the explode, documents without URLs
    never enter it."""
    from pyspark.sql.functions import broadcast

    hosts = (
        extract_domains(df.select(id_col, text_col), text_col, "__domains")
        .filter(F.size("__domains") > 0)
        .select(F.col(id_col), F.explode("__domains").alias("__h0"))
        # strip trailing dot(s): 'ads.evil.com.' is the same FQDN as
        # 'ads.evil.com' in DNS — without this a trailing-dot URL is a
        # blocklist escape (matches neither equality nor '.suffix')
        .select(
            F.col(id_col),
            F.regexp_replace(F.col("__h0"), r"\.+$", "").alias("__host"),
        )
    )
    # normalize blocklist entries: trailing dots (FQDN form) AND
    # leading dots — '.evil.com' is the standard cookie/adblock
    # suffix notation for the domain family, and without the strip
    # the entry matched NOTHING (endswith('..evil.com') never fires):
    # a silently inert blocklist row
    b = broadcast(
        blocked.select(
            F.regexp_replace(
                F.lower(F.col(domain_col)), r"(^\.+|\.+$)", ""
            ).alias("__blocked")
        ).distinct()
    )
    hit_ids = (
        hosts.join(
            b,
            (F.col("__host") == F.col("__blocked"))
            | F.col("__host").endswith(F.concat(F.lit("."), F.col("__blocked"))),
        )
        .select(id_col)
        .distinct()
    )
    return df.join(hit_ids, on=id_col, how="left_anti")


def strip_boilerplate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    min_docs: int = 5,
    max_doc_frac: float = 0.5,
    out_col: str = "text_clean",
) -> DataFrame:
    """Remove per-group boilerplate lines (nav bars, footers, cookie
    banners): a line is boilerplate within a group (site/source) when
    it appears in more than ``max_doc_frac`` of the group's documents,
    provided the group has at least ``min_docs`` documents (small
    groups keep everything — a 2-doc site makes every shared line
    'frequent').

    Shape (CCNet-style, fully relational):
      1. explode distinct (group, line_hash) per doc -> groupBy count
         [shuffle of hashes, map-side combined];
      2. per-group doc counts from the same exploded frame;
      3. the flagged (group, line_hash) set joins back to the doc's
         line ARRAY (not its exploded rows): the doc table carries its
         split lines, the join key is the group, and the filter is an
         array_except against the group's flagged hashes gathered by
         collect_set [one shuffle of the small flagged set].
    Only hashes ride every shuffle; text stays in its original row.
    Line order is preserved; line-level whitespace is preserved
    verbatim (only exact repeated lines are removed)."""
    lines = F.split(F.col(text_col), "\n")
    base = df.withColumn("__lines", lines)

    exploded = base.select(
        F.col(id_col),
        F.col(group_col).alias("__grp"),
        F.explode(
            F.array_distinct(
                F.filter(F.col("__lines"), lambda x: F.length(F.trim(x)) > 0)
            )
        ).alias("__line"),
    ).select(id_col, "__grp", F.xxhash64("__line").alias("__lh"))

    line_counts = exploded.groupBy("__grp", "__lh").agg(
        F.count("*").alias("__n_docs_with_line")
    )
    grp_counts = df.groupBy(F.col(group_col).alias("__grp")).agg(
        F.countDistinct(id_col).alias("__n_docs")
    )
    flagged = (
        line_counts.join(grp_counts, on="__grp")
        .filter(
            (F.col("__n_docs") >= min_docs)
            & (
                F.col("__n_docs_with_line")
                > F.col("__n_docs") * F.lit(float(max_doc_frac))
            )
        )
        .groupBy("__grp")
        .agg(F.collect_set("__lh").alias("__flagged"))
    )

    joined = base.join(
        flagged, on=base[group_col] == flagged["__grp"], how="left"
    )
    kept = F.filter(
        F.col("__lines"),
        lambda x: ~F.array_contains(
            F.coalesce(F.col("__flagged"), F.array().cast("array<bigint>")),
            F.xxhash64(x),
        ),
    )
    return (
        joined.withColumn(out_col, F.array_join(kept, "\n"))
        .drop("__lines", "__flagged", "__grp")
    )


def repetition_signals(df: DataFrame, text_col: str) -> DataFrame:
    """Gopher-style repetition quality signals, all native:

    - ``dup_line_ratio``: 1 - distinct/total over non-empty lines —
      boilerplate pages repeat nav/footer lines.
    - ``rep_2gram_ratio``: 1 - distinct/total over word 2-grams —
      generated/spun text repeats short phrases.
    - ``top_token_ratio``: occurrences of the most frequent token over
      total tokens, computed by a max-run scan over the SORTED token
      array (O(n log n) comparisons, no per-distinct-token rescan, no
      explode/groupBy shuffle).

    High values on any signal flag a document for the quality gate;
    thresholds are the caller's policy (Rae et al. 2021 use
    dup_line_ratio > 0.3, top-2-gram > 0.2).
    """
    t = F.col(text_col)

    # STAGED projection: tokenization and line-splitting land in named
    # columns FIRST, and every signal below references the attribute.
    # Two reasons (both measured on the sf0.1 text_quality bench):
    # subexpression elimination does not reach inside higher-order-
    # function lambdas, so an expression-form `toks` inside the 2-gram
    # lambda would re-split the document PER ELEMENT (O(n²) in tokens);
    # and CollapseProject keeps the stage because split/filter are
    # non-cheap aliases referenced more than once — the same staging
    # pattern as dedup._staged_minhash.
    # THE canonical tokenizer (textops.tokens — regexp strip + empty
    # guard + split), not a re-derived copy that could drift from it;
    # staging only needs the expression landed in a named column
    from clustering_spark.operators.textops import tokens

    staged = df.withColumns(
        {
            "__rs_toks": tokens(t),
            "__rs_lines": F.filter(
                F.split(t, "\n"), lambda x: F.length(F.trim(x)) > 0
            ),
        }
    )
    toks = F.col("__rs_toks")
    lines = F.col("__rs_lines")

    n_lines = F.size(lines)
    dup_line = F.when(
        n_lines > 0,
        1.0 - F.size(F.array_distinct(lines)).cast("double") / n_lines,
    ).otherwise(0.0)

    n_toks = F.size(toks)
    # zip_with over the two shifted slices: each slice evaluates the
    # (cheap) token attribute once — no element_at-per-element
    grams = F.when(n_toks >= 2, F.zip_with(
        F.slice(toks, 1, n_toks - 1),
        F.slice(toks, 2, n_toks - 1),
        lambda a, b: F.concat_ws("\x1f", a, b),
    )).otherwise(F.array().cast("array<string>"))
    n_grams = F.size(grams)
    rep_2gram = F.when(
        n_grams > 0,
        1.0 - F.size(F.array_distinct(grams)).cast("double") / n_grams,
    ).otherwise(0.0)

    # max run length over sorted tokens: acc = (prev, run, best)
    scan = F.aggregate(
        F.sort_array(F.transform(toks, F.lower)),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("int").alias("run"),
            F.lit(0).cast("int").alias("best"),
        ),
        lambda acc, w: F.struct(
            w.alias("prev"),
            F.when(acc["prev"].eqNullSafe(w), acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(acc["prev"].eqNullSafe(w), acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    top_tok = F.when(
        n_toks > 0, scan["best"].cast("double") / n_toks
    ).otherwise(0.0)

    return staged.withColumns(
        {
            "dup_line_ratio": F.round(dup_line, 6),
            "rep_2gram_ratio": F.round(rep_2gram, 6),
            "top_token_ratio": F.round(top_tok, 6),
        }
    ).drop("__rs_toks", "__rs_lines")


# tracking parameters every web-corpus canonicalizer strips (public
# convention: Google/Facebook/Mailchimp click attribution)
_TRACKING_PARAM_RE = r"^(utm_[a-z]+|gclid|fbclid|msclkid|mc_cid|mc_eid)="


def canonicalize_url(url: Column | str) -> Column:
    """Canonical DEDUP KEY form of an http(s) URL — the first step of
    web-corpus curation (URL-level dedup, per-site caps, recrawl
    detection): two crawls of the same page must collapse to one key
    even when the fetch URLs differ by case, default port, fragment,
    tracking parameters, or query-parameter order.

    Normalizations (all native regexp/array expressions, scan-speed):
    lowercase scheme and host; drop a default :80/:443 port; drop the
    #fragment; drop tracking parameters (utm_*/gclid/fbclid/...); SORT
    the surviving query parameters (order is almost never semantic,
    and unordered keys collapse permutations); strip trailing slashes
    from the path. The output is a canonical KEY — parameter sorting
    means it is not guaranteed to be a byte-identical fetchable URL.
    Non-http(s) input (no scheme match) passes through unchanged so
    callers can canonicalize mixed columns without a pre-filter.
    """
    orig = F.col(url) if isinstance(url, str) else url
    # fragment strip applies to the PARSED copy only: the passthrough
    # branch must return the INPUT — stripping '#...' first mutated
    # non-URL values ('doc#1' and 'doc#2' both became 'doc', merging
    # distinct rows under url_dedup_key)
    u = F.regexp_replace(orig, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    # userinfo is dropped from the KEY (round-16 review: servers
    # ignore URL credentials, so user@host and host name the same
    # resource; the greedy run takes through the LAST '@', so the host
    # is what follows it) and a single trailing FQDN dot collapses,
    # BEFORE the default-port check so 'example.com.:80' fully folds
    # — the same canonicalization the blocklist path applies.
    host = F.lower(
        F.regexp_extract(u, r"^[^:/?#]+://(?:[^/?#]*@)?([^/?#]+)", 1)
    )
    host = F.regexp_replace(host, r"\.((?::\d+)?)$", "$1")
    # default-port strip is scheme-conditional: :80 is only the default
    # for http and :443 only for https — https://host:80/x is a
    # distinct resource and must keep its port in the key
    host = (
        F.when(scheme == "http", F.regexp_replace(host, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, r":443$", ""))
        .otherwise(host)
    )
    path = F.regexp_replace(
        F.regexp_extract(u, r"^[^:/?#]+://[^/?#]+([^?#]*)", 1), r"/+$", ""
    )
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (F.length(p) > 0) & ~p.rlike(_TRACKING_PARAM_RE),
        )
    )
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&")))
        .otherwise(F.lit("")),
    )
    return F.when(
        scheme.isin("http", "https") & (F.length(host) > 0), canon
    ).otherwise(orig)


def url_dedup_key(df: DataFrame, url_col: str, out_col: str = "url_key") -> DataFrame:
    """Append md5(canonical URL) — the 16-byte join/groupBy key for
    URL-level exact dedup and per-URL latest-crawl-wins upserts."""
    return df.withColumn(out_col, F.md5(canonicalize_url(url_col)))


# ----------------------------------------------------- HTML extraction

# Entities worth decoding without a full entity table: the named forms
# plus the numeric code points that actually appear in crawled prose
# (smart quotes, dashes, nbsp). Rare numeric entities are DROPPED (to
# a space) rather than left in the text as `&#8455;` markup noise —
# documented degradation, not silent corruption.
_HTML_ENTITIES = [
    ("&nbsp;", " "),
    ("&#160;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#34;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&#8216;", "\u2018"),
    ("&#8217;", "\u2019"),
    ("&#8220;", "\u201c"),
    ("&#8221;", "\u201d"),
    ("&#8211;", "\u2013"),
    ("&#8212;", "\u2014"),
    ("&#8230;", "\u2026"),
    # ampersand LAST: decoding it earlier would turn &amp;lt; into a
    # decodable &lt; — double-decoding the author's literal text.
    # These two rows are skipped by the exact-string loop and decoded
    # by strip_html's single combined regexp pass instead (with the
    # zero-padded/hex spellings) so no pass can feed another.
    ("&amp;", "&"),
    ("&#38;", "&"),
]


def strip_html(text: Column | str) -> Column:
    """Plain text from an HTML document — the FIRST transform of a web
    corpus, before any quality/dedup stage sees the text. Pure native
    regexp expressions (scan-speed, whole-stage codegen): the
    pragmatic crawl-pipeline extractor (strip markup, decode common
    entities, preserve block structure as newlines), not a DOM parser
    — malformed markup degrades gracefully instead of failing the row.

    Passes, in order (each one regexp/replace projection, fused by
    codegen into the same stage):
    1. HTML comments dropped FIRST — a commented-out ``<script src=x>``
       (no closing tag) must not trigger pass 2's drop-to-end-of-
       document and swallow the prose after the comment. The match is
       TEMPERED (may not cross a ``</script>``-family close tag) so a
       live script body containing an unmatched ``<!--`` cannot pair
       with a later comment's ``-->`` and delete its own close tag;
    2. ``<script>``/``<style>``/``<noscript>``/``<template>`` dropped
       WITH their payload (case-insensitive, dot-matches-newline);
       an unclosed tag drops to end-of-document — for training data,
       losing prose beats keeping JavaScript; then a second, PLAIN
       comment pass drops comment shells the tempered pass refused
       (those that wrapped a complete script element);
    3. block-level tags (p, br, div, li, ul/ol, h1-6, tr, table,
       blockquote, section, article) become newlines so paragraph
       structure survives for the line-level stages
       (strip_boilerplate, dup_line_ratio);
    4. inline formatting tags (a, b, i, em, strong, span, code, ...)
       removed WITHOUT a space (``<b>x</b>.`` → ``x.``); every other
       remaining MARKUP-SHAPED tag (``<`` + name/close/decl/PI, the
       browser rule — literal ``< 10 and y > 3`` comparisons in prose
       are NOT markup and survive) becomes a space so sibling cells
       don't fuse; quoted attribute values may contain ``>``;
    5. the common named/numeric entities decoded (``&amp;`` last so
       ``&amp;lt;`` stays a literal ``<`` spelled by the author, not a
       second decode); leftover ``&#...;`` forms dropped to a space;
    6. horizontal whitespace runs collapsed, 3+ newlines collapsed to
       2 (paragraph break), result trimmed.
    """
    t = F.col(text) if isinstance(text, str) else text
    # TEMPERED comment pass: a comment match may not cross a live
    # </script>/</style> close tag — otherwise a script body containing
    # an unmatched "<!--" (the legacy hiding idiom, document.write)
    # would pair with a LATER real comment's "-->", eat the close tag,
    # and turn pass 2 into a drop-to-end-of-document
    t = F.regexp_replace(
        t,
        r"(?is)<!--(?:(?!</(?:script|style|noscript|template)\b).)*?-->",
        " ",
    )
    t = F.regexp_replace(
        t, r"(?is)<(script|style|noscript|template)\b.*?(</\1\s*>|$)", " "
    )
    # second, PLAIN comment pass: a comment that contained a complete
    # <script>...</script> was (correctly) refused by the tempered pass;
    # with the script payload now gone, drop the comment shell + any
    # remaining commented prose so it can't leak into the text
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    # tag-interior pattern: quoted attribute values may legally contain
    # '>' (onclick="if(a>b)x()") — a bare [^>]* stopped at that inner
    # '>' and leaked 'b)x()">' fragments into the extracted text, so
    # the interior skips "..."/'...' spans atomically.
    # UNTERMINATED quotes (round-16 review): an unclosed attribute
    # quote pairs with the next quote ANYWHERE later (an apostrophe in
    # prose counts) and the span up to the following '>' is consumed —
    # this is deliberate BROWSER PARITY, not a defect: the HTML5
    # tokenizer's attribute-value-quoted state likewise consumes prose
    # until the next matching quote, then attribute-name-parses up to
    # '>', so a browser renders none of that text either (pinned in
    # tests/test_textnorm.py). When NO later quote exists the match
    # fails and the text survives as-is — the divergence falls on the
    # keep-the-text side.
    attrs = "(?:\"[^\"]*\"|'[^']*'|[^>\"'])*"
    t = F.regexp_replace(
        t,
        r"(?i)</?(p|br|div|li|ul|ol|h[1-6]|tr|table|blockquote|section|article)\b"
        + attrs
        + ">",
        "\n",
    )
    # inline formatting tags vanish (no space): "<b>x</b>." must give
    # "x.", not "x ."; any other remaining tag becomes a space so
    # words in sibling table cells / unknown elements don't fuse
    t = F.regexp_replace(
        t,
        r"(?i)</?(a|b|i|u|em|strong|span|code|small|sup|sub|mark|abbr|time)\b"
        + attrs
        + ">",
        "",
    )
    # catch-all is MARKUP-SHAPED only — '<' must open a tag name,
    # close tag, declaration or PI ([/!?]?[A-Za-z], the browser rule):
    # the previous <[^>]*> also matched literal comparison spans in
    # prose ('if x < 10 and y > 3' lost ' 10 and y ') — silent text
    # destruction in forum/code corpora
    t = F.regexp_replace(t, r"(?s)<[/!?]?[A-Za-z]" + attrs + ">", " ")
    # fallback for MALFORMED tags (unbalanced quote: <div class="x>):
    # the quote-aware pass refuses them, so degrade like the old
    # behavior — consume to the first '>' — rather than leak markup
    t = F.regexp_replace(t, r"(?s)<[/!?]?[A-Za-z][^>]*>", " ")
    # entity order: (a) named/common-numeric decodes, (b) leftover
    # numeric entities dropped, (c) &amp;/&#38; decoded LAST — after
    # the catch-all, so an author-escaped "&amp;#160;" surfaces as the
    # literal text "&#160;" instead of being decoded twice and eaten
    for ent, rep in _HTML_ENTITIES:
        if rep == "&":
            continue
        t = F.replace(t, F.lit(ent), F.lit(rep))
    # the catch-all must NOT eat numeric ampersands (&#38; / &#x26;,
    # incl. zero-padded spellings) — they belong to the deferred
    # ampersand decode below, not to the drop-to-space pass
    t = F.regexp_replace(
        t, r"&#(?!0*38;|[xX]0*26;)[xX]?[0-9a-fA-F]{1,7};", " "
    )
    # ALL ampersand spellings (&amp;, &#38;, zero-padded, hex) decode
    # in ONE regexp pass. They used to decode in SEQUENTIAL passes,
    # which let one pass's output feed the next: author-escaped
    # "&amp;#38;" became "&#38;" (correct, the literal text) and then
    # the zero-padded cleanup pass re-matched it down to "&" — the
    # exact double-decode the decode-&-last ordering exists to prevent
    # (caught by the round-10 gate round-trip property test). A single
    # regexp_replace never rescans its own output, so "&amp;#38;" ->
    # "&#38;" and stops there, while bare "&#038;"/"&#x26;" still
    # decode.
    t = F.regexp_replace(t, r"&(amp|#0*38|#[xX]0*26);", "&")
    t = F.regexp_replace(t, r"[ \t\x0b\f\r]+", " ")
    t = F.regexp_replace(t, r" ?\n ?", "\n")
    t = F.regexp_replace(t, r"\n{3,}", "\n\n")
    return F.regexp_replace(t, r"^\s+|\s+$", "")


def extract_html_text(
    df: DataFrame, html_col: str, out_col: str = "text"
) -> DataFrame:
    """DataFrame form of :func:`strip_html`."""
    return df.withColumn(out_col, strip_html(html_col))
