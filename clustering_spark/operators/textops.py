"""Text analysis operators for training-data pipelines
(beyond-reference scope, SURVEY §7.6): language-ID, quality scoring,
token counting, document fingerprinting.

Everything is built from native string/array expressions — regexes,
higher-order array functions, hashes — so the hot path never leaves
the JVM. Each operator is SQL-expressible and oracle-checked where the
semantics allow (see queries.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Minimal per-language function-word lists for the n-gram/stopword
# heuristic language ID. Public-knowledge closed-class words.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "les", "de", "et", "est", "un", "une", "dans", "que"],
    "es": ["el", "la", "los", "de", "y", "es", "un", "una", "en", "que"],
    "it": ["il", "la", "di", "e", "che", "un", "una", "per", "con", "non"],
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokens of stripped text (empty/whitespace-only text
    -> empty array). Stripping is ALL whitespace (regexp), not
    F.trim — trim removes spaces only, so a "\\n"-only document would
    otherwise split into two phantom empty tokens (caught by the
    repetition-signal property test)."""
    t = F.col(text) if isinstance(text, str) else text
    trimmed = F.regexp_replace(t, r"^\s+|\s+$", "")
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token estimate: count regex pieces (runs of
    letters, runs of digits, single punctuation) — a deterministic
    stand-in for a BPE tokenizer's piece count."""
    t = F.col(text) if isinstance(text, str) else text
    pieces = F.regexp_extract_all(
        F.lower(t), F.lit(r"([a-z]+|[0-9]+|[^a-z0-9\s])"), 1
    )
    return F.size(pieces)


def quality_features(
    df: DataFrame, text_col: str, lang_col: str | None = None
) -> DataFrame:
    """Append quality-signal columns: n_tokens, avg_token_len,
    punct_ratio, digit_ratio, stopword_ratio, and a composite
    quality_score in [0,1].

    Score = mean of four unit-range signals: token-length plausibility,
    low punctuation, low digits, stopword presence. Deliberately simple
    + fully SQL-replicable (oracle-checked). ZERO-TOKEN text (empty,
    whitespace-only, NULL) scores 0.0 OUTRIGHT: the per-signal
    otherwise(0.0) fallbacks would otherwise average to 0.5 — above
    the default 0.25 gate, so empty documents sailed through every
    downstream quality filter (trainprep's gate) as
    middling-quality text.

    ``lang_col``: optional language column (e.g. lang_id's output) —
    the stopword list is then selected per row via a chained CASE over
    LANG_STOPWORDS (still pure native expressions); unknown languages
    fall back to the English list, matching the default behavior. A
    French document full of 'le/la/des' stops scoring as stopword-free
    gibberish."""
    t = F.col(text_col)
    # stage the split ONCE as a named column: `toks` is referenced by
    # n_tokens AND the stopword filter, and an unstaged expression
    # re-splits the text per reference (the measured ~30% lang_id
    # pathology — same fix as its __toks staging)
    df = df.withColumn("__qf_toks", tokens(text_col))
    toks = F.col("__qf_toks")
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    avg_tok = F.when(n_tokens > 0, n_chars.cast("double") / n_tokens).otherwise(0.0)
    # \p{L}/\p{N}, not \w: Java \w is ASCII-only, so every accented
    # letter in multilingual prose would count as punctuation and tank
    # quality_score for exactly the documents it should pass. Both
    # Java regex and DuckDB's RE2 support the unicode classes, so the
    # oracle replays the same semantics.
    n_punct = F.length(t) - F.length(
        F.regexp_replace(t, r"[^\p{L}\p{N}_\s]", "")
    )
    n_digit = F.length(t) - F.length(F.regexp_replace(t, r"[0-9]", ""))
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(0.0)
    digit_ratio = F.when(n_chars > 0, n_digit.cast("double") / n_chars).otherwise(0.0)
    # English is the fallback in BOTH modes (one definition — the
    # lang_col CASE chain below only overrides known codes)
    stops = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    if lang_col is not None:
        for code in sorted(LANG_STOPWORDS):
            stops = F.when(
                F.col(lang_col) == F.lit(code),
                F.array(*[F.lit(w) for w in LANG_STOPWORDS[code]]),
            ).otherwise(stops)
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(stops, F.lower(w))))
    stop_ratio = F.when(n_tokens > 0, n_stop.cast("double") / n_tokens).otherwise(0.0)

    tok_len_ok = F.when((avg_tok >= 3.0) & (avg_tok <= 10.0), 1.0).otherwise(0.0)
    score = (
        tok_len_ok
        + (1.0 - F.least(punct_ratio * 5.0, F.lit(1.0)))
        + (1.0 - F.least(digit_ratio * 5.0, F.lit(1.0)))
        + F.least(stop_ratio * 5.0, F.lit(1.0))
    ) / 4.0
    # zero-token text is NOT middling quality (see docstring); a NULL
    # n_tokens (NULL text under ANSI size()) also lands in otherwise
    score = F.when(n_tokens > 0, score).otherwise(0.0)

    return df.withColumns(
        {
            "n_tokens": n_tokens,
            "avg_token_len": F.round(avg_tok, 6),
            "punct_ratio": F.round(punct_ratio, 6),
            "digit_ratio": F.round(digit_ratio, 6),
            "stopword_ratio": F.round(stop_ratio, 6),
            "quality_score": F.round(score, 6),
        }
    ).drop("__qf_toks")


def lang_id(
    df: DataFrame,
    text_col: str,
    out_col: str = "lang_pred",
    score_col: str = "lang_score",
) -> DataFrame:
    """Heuristic language ID: per language, score = fraction of tokens
    that are that language's function words; argmax wins, 'und'
    (undetermined) when every score is 0. Ties break by language code
    order (deterministic).

    The token array is STAGED as a named column (same pattern as
    textnorm.repetition_signals): it feeds one filter lambda per
    language, and subexpression elimination does not reach inside
    higher-order-function lambdas — the expression form re-split the
    text per language (measured ~30% slower at sf0.1)."""
    staged = df.withColumn("__li_toks", tokens(text_col))
    toks = F.col("__li_toks")
    n_tokens = F.size(toks)
    scores = []
    for lang in sorted(LANG_STOPWORDS):
        lst = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
        n_hits = F.size(F.filter(toks, lambda w: F.array_contains(lst, F.lower(w))))
        scores.append(
            F.struct(
                F.when(n_tokens > 0, n_hits.cast("double") / n_tokens)
                .otherwise(0.0)
                .alias("score"),
                F.lit(lang).alias("lang"),
            )
        )
    # array_max on struct: orders by first field (score) then second
    # (lang) — ascending lang breaks ties toward 'z*'; invert by
    # sorting desc on score with a stable reduce instead.
    best = F.aggregate(
        F.array(*scores),
        F.struct(F.lit(-1.0).alias("score"), F.lit("und").alias("lang")),
        lambda acc, s: F.when(s["score"] > acc["score"], s).otherwise(acc),
    )
    return (
        staged.withColumn(
            out_col,
            F.when(best["score"] > 0.0, best["lang"]).otherwise(F.lit("und")),
        )
        .withColumn(score_col, F.round(best["score"], 6))
        .drop("__li_toks")
    )


def fingerprint_expr(text: Column | str) -> Column:
    """The fingerprint as a Column: md5 of lower-cased,
    whitespace-collapsed, whitespace-TRIMMED text. THE single
    definition of the dedup key — ``fingerprint`` (here) and
    ``dedup.novel_exact``'s new and corpus sides all call this, so
    they can never silently drift apart.

    Order matters: collapse runs FIRST, then trim. F.trim strips
    spaces only, so trim-before-collapse left a boundary space for
    text ending in '\\n' (ubiquitous in crawled docs) — 'hello' and
    'hello\\n' never exact-deduped. After collapsing, every boundary
    whitespace IS a space and trim removes it. The DuckDB oracle
    (SQL_TEXT_PROFILE) mirrors this exact order."""
    t = F.col(text) if isinstance(text, str) else text
    return F.md5(F.trim(F.regexp_replace(F.lower(t), r"\s+", " ")))


def fingerprint(df: DataFrame, text_col: str, out_col: str = "fingerprint") -> DataFrame:
    """Normalized-content fingerprint: md5 of lower-cased,
    whitespace-collapsed text. Stable across formatting-only edits;
    the exact-dedup key for 'same text modulo whitespace/case'."""
    return df.withColumn(out_col, fingerprint_expr(text_col))


def rolling_hash_fingerprint(
    df: DataFrame, text_col: str, window: int = 16, out_col: str = "winnow_fp"
) -> DataFrame:
    """Winnowing-style fingerprint: min polynomial rolling hash over
    character windows (document fingerprinting a la MOSS). Native:
    char n-gram array -> xxhash64 each -> min. NULL text yields a
    NULL fingerprint (greatest() SKIPS nulls and xxhash64 hash-skips a
    NULL argument, so without the guard every NULL doc would share one
    real-looking constant — and exact-dedup on the fingerprint would
    collapse all NULL docs into one "content" cluster). Returns df +
    long col."""
    grams = F.transform(
        F.sequence(
            F.lit(1),
            F.greatest(
                F.length(F.col(text_col)) - window + 1, F.lit(1)
            ),
        ),
        lambda i: F.xxhash64(F.substring(F.col(text_col), i, window)),
    )
    fp = F.when(F.col(text_col).isNotNull(), F.array_min(grams))
    return df.withColumn(out_col, fp)


def tfidf_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    top_terms_per_doc: int | None = None,
) -> DataFrame:
    """Relational TF-IDF: (id, term, tf, df, tfidf) in long form —
    SURVEY §7.6's text-analysis TF-IDF, kept as a plain table instead
    of an opaque vector type so every downstream (top-terms, cosine on
    shared terms, keyword search) is ordinary relational algebra.

    tf    = term count within the doc (lower-cased whitespace tokens)
    df    = number of docs containing the term
    tfidf = tf * (ln((N+1)/(df+1)) + 1)   (sklearn-style smooth idf)

    Scale shape: explode -> groupBy(id, term) [shuffle 1, map-side
    combined] -> groupBy(term) for df [shuffle 2 over the VOCABULARY,
    tiny] -> join tf x idf on term (idf side is vocab-sized —
    broadcastable). N comes from a 1-row aggregate cross-joined in, so
    the plan stays fully lazy (no driver count). ``min_df`` prunes
    hapax noise before the join; ``top_terms_per_doc`` bounds output
    per doc (rank by tfidf desc, term asc).

    The tf frame is staged (lazy localCheckpoint): both the df
    aggregate and the final join read it, and without the stage the
    whole scan→tokenize→explode→groupBy subtree evaluates twice —
    staging it cut the 10× probe ~20-30%. The checkpoint holds
    (id, term, tf) — the post-aggregation table, far smaller than the
    exploded tokens, and the df aggregate stays a map-side-combined
    groupBy (a count-over-term window would put every occurrence of a
    hot term in one task — skew that partial aggregation is immune
    to)."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.explode(F.transform(tokens(text_col), F.lower)).alias("term"),
    )
    tf = (
        toks.groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    if min_df > 1:
        dfreq = dfreq.filter(F.col("df") >= min_df)
    n_docs = df.select(
        F.countDistinct(id_col).alias("__n")
    )  # 1-row frame, cross-joined (BroadcastNestedLoopJoin on 1 row)
    idf = dfreq.crossJoin(n_docs).select(
        "term",
        "df",
        (F.log((F.col("__n") + 1.0) / (F.col("df") + 1.0)) + 1.0).alias("__idf"),
    )
    out = tf.join(idf, on="term").select(
        id_col,
        "term",
        "tf",
        "df",
        F.round(F.col("tf") * F.col("__idf"), 6).alias("tfidf"),
    )
    if top_terms_per_doc is not None:
        w = Window.partitionBy(id_col).orderBy(
            F.col("tfidf").desc(), F.col("term").asc()
        )
        out = (
            out.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= top_terms_per_doc)
            .drop("__rk")
        )
    return out


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 200,
    stride: int = 150,
) -> DataFrame:
    """Fixed-size overlapping character chunks — the standard
    context-window packing step of a training-data pipeline. Chunk i
    covers [i*stride, i*stride+size); the last chunk is short rather
    than padded; empty documents produce no chunks.

    Scale design: a pure native explode — each document fans into
    ceil(len/stride) rows inside the same task (no shuffle, no UDF),
    so the plan is scan -> generate -> project and stays in
    whole-stage codegen. Output carries (id, chunk_idx, chunk_start,
    chunk_len, chunk_md5), not the chunk text, so downstream exact
    dedup of chunks shuffles 16-byte hashes, never text; re-derive a
    chunk's text from (id, chunk_start) when needed."""
    n = F.length(F.col(text_col))
    n_chunks = F.floor((n - F.lit(1)) / F.lit(stride)) + F.lit(1)
    out = (
        df.filter(n > 0)
        .withColumn(
            "chunk_idx", F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int")))
        )
        # F.substring with Column start (not F.expr string
        # interpolation): a column name needing backticks or containing
        # a dot would otherwise mis-parse / resolve as a struct field
        .withColumn(
            "__chunk",
            F.substring(
                F.col(text_col),
                (F.col("chunk_idx") * stride + 1).cast("int"),
                F.lit(size),
            ),
        )
    )
    return out.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        (F.col("chunk_idx") * stride).cast("long").alias("chunk_start"),
        F.length("__chunk").cast("long").alias("chunk_len"),
        F.md5("__chunk").alias("chunk_md5"),
    )
