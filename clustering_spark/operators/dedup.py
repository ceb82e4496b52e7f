"""Deduplication operators for LLM training-data pipelines
(beyond-reference scope, SURVEY §7.6 / BASELINE.json north star).

All hot paths are native Column expressions (higher-order functions
over arrays — JVM-side, codegen) — no Python on the per-row path.
Scale design per operator:

* exact:      one groupBy on a 128-bit content hash; map-side combine;
              shuffle carries (hash, min_id), not documents.
* minhash:    signature = k universal hashes over shingle xxhash64s —
              computed in ONE projection; LSH banding turns the O(n²)
              pair search into an equi-join on (band_idx, band_hash),
              which Spark shuffles by key (AQE handles skewed bands);
              verification re-checks candidates with exact Jaccard on
              the (small) shingle-hash sets.
* simhash:    64-bit signature via bit-vote aggregation; candidate
              pairs from 16-bit chunk equi-join (pigeonhole: hamming<=3
              guarantees a shared chunk); exact hamming verify.
* embedding:  random-hyperplane LSH over array<float> embeddings →
              band join → exact cosine verify; brute-force variant for
              small query sets / oracle checking.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from clustering_spark.functions.rounding import np_round6_half_up as _round6_half_up
from clustering_spark.functions.vector import cosine_similarity

# Mersenne prime 2^31-1: universal-hash modulus. xxhash64 values are
# reduced mod P before multiply so a*h+b stays far from int64 overflow
# (Spark 4 ANSI mode would raise on wrap).
_P = 2_147_483_647


# ---------------------------------------------------------------- exact


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Keep the min-id row per exact content group (hash-groupBy).

    Dedup key = md5 over an INJECTIVE length-prefixed encoding of the
    content columns: each field becomes ``<char_length>:<value>``
    (NULL becomes ``-1:``), concatenated. Decoding is unambiguous —
    read digits to the ':', then exactly that many characters — for
    ANY content bytes, so ('ab','c') != ('a','bc'), ('a', NULL) !=
    ('a', '') — and, unlike the previous 0x1f-delimited / 0x00-NULL-
    sentinel form, content that itself CONTAINS the delimiter or
    sentinel cannot be forged into a collision: ('x\\x1f', 'y') vs
    ('x', '\\x1fy') used to encode identically and silently drop the
    higher-id row, and a literal '\\x00' string merged with NULL —
    real hazards for crawled text, which carries control bytes. The
    shuffle carries only (hash, id). Returns surviving ids + group
    size.
    """
    parts = []
    for c in content_cols:
        s = F.col(c).cast("string")
        parts.append(
            F.concat(
                F.coalesce(F.length(s).cast("string"), F.lit("-1")),
                F.lit(":"),
                F.coalesce(s, F.lit("")),
            )
        )
    key = F.md5(F.concat(*parts))
    groups = (
        df.select(key.alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
    return groups


# -------------------------------------------------------------- shingles


def _zip_ngrams(parts: list[Column], sep: str) -> Column:
    """n-gram strings from n SHIFTED equal-length slices, paired with
    a chain of ``zip_with``. Every slice is a zip_with ARGUMENT, so
    each underlying array expression is evaluated once per slice —
    never inside a per-element lambda. (An index-transform form that
    slices the token array inside the lambda re-evaluates the whole
    tokenize/normalize expression PER GRAM: subexpression elimination
    does not reach inside HOF lambdas, the same O(len²) pathology
    fixed in repetition_signals / lang_id / quantize_embeddings.)"""
    g = parts[0]
    for p in parts[1:]:
        g = F.zip_with(g, p, lambda a, b: F.concat(a, F.lit(sep), b))
    return g


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of lower-cased text (array<string>).
    Empty/short docs yield their full token string as a single shingle."""
    t = F.col(text) if isinstance(text, str) else text
    tokens = F.split(F.trim(F.lower(t)), r"\s+")
    k = F.size(tokens)
    grams = F.when(
        k >= n,
        _zip_ngrams(
            [F.slice(tokens, j + 1, k - n + 1) for j in range(n)], " "
        ),
    ).otherwise(F.array(F.array_join(tokens, " ")))
    return F.array_distinct(grams)


def char_shingles(text: Column | str, n: int = 5) -> Column:
    """Distinct character n-grams of whitespace-normalized text."""
    t = F.col(text) if isinstance(text, str) else text
    norm = F.regexp_replace(F.trim(F.lower(t)), r"\s+", " ")
    chars = F.split(norm, "")  # one char per element (code units)
    ln = F.length(norm)
    grams = F.when(
        ln >= n,
        _zip_ngrams(
            [F.slice(chars, j + 1, ln - n + 1) for j in range(n)], ""
        ),
    ).otherwise(F.array(norm))
    return F.array_distinct(grams)


def exact_jaccard(sh_a: Column | str, sh_b: Column | str) -> Column:
    """Exact Jaccard of two DISTINCT-element shingle arrays:
    |A∩B| / (|A| + |B| - |A∩B|), with the two-empty-sets convention
    J(∅, ∅) = 1.0 (two empty docs are identical, matching the numpy
    dense kernel's union > 0 rule and the DuckDB oracles).

    THE one definition of the verify expression — minhash_lsh_pairs,
    novel_minhash and the ngram sparse path all call this instead of
    carrying private copies, so a future change to the empty-set rule
    or rounding cannot drift the operators apart (the same
    three-copies-drifted failure class functions/rounding.py was
    created to close)."""
    a = F.col(sh_a) if isinstance(sh_a, str) else sh_a
    b = F.col(sh_b) if isinstance(sh_b, str) else sh_b
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(1.0))


def _threshold_fraction(t: float) -> tuple[int, int]:
    """Represent threshold ``t`` as an exact rational p/q with p/q <= t
    and q <= 1e6, for overflow-safe exact integer ceilings in the
    PPJoin bounds (see ngram_jaccard_pairs). limit_denominator recovers
    the decimal the caller typed (0.55 -> 11/20) even though the float
    sits just above it; when the closest fraction exceeds the float —
    which is what the verify step compares against — fall back to the
    floor-quantized fraction, relaxing by <1e-6 (lossless: only admits
    extra candidates)."""
    from fractions import Fraction

    ft = Fraction(t)
    frac = ft.limit_denominator(1_000_000)
    if frac > ft:
        frac = Fraction(int(ft * 1_000_000), 1_000_000)
    return frac.numerator, frac.denominator


def _ceil_ratio(n_col: Column, num: int, den: int) -> Column:
    """Exact ceil(num * n / den) for an integer column n >= 0 as
    floor((num*n + den - 1) / den). The double division is exact here:
    numerators stay <= ~2e6 * n (< 2^53 for any real shingle count) and
    den <= 2e6 keeps non-integral quotients > one ulp away from the
    next integer, so floor cannot misround."""
    return F.floor(
        (F.lit(int(num)) * n_col.cast("long") + F.lit(int(den - 1)))
        / F.lit(int(den))
    )


def _word_shingles_arrow(n: int = 3):
    """Arrow-batched pandas_udf equivalent of :func:`word_shingles`
    (verified bit-for-bit by tests/test_dedup.py). Replicates Spark
    semantics exactly: ``trim`` strips SPACE chars only; ``F.split``
    uses Java ``\\s`` = ``[ \\t\\n\\x0B\\f\\r]`` with limit=-1, which
    KEEPS leading/trailing empty tokens (Python ``re.split`` matches
    this); < n tokens yield the single joined-token string. One UDF
    eval per row — the expression form is re-evaluated per downstream
    reference (hash + distinct-hash projections) because Catalyst
    inlines non-cheap expression trees."""
    import re

    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def sh(texts):
        out = []
        for t in texts:
            if t is None:
                out.append([None])
                continue
            tokens = ws.split(t.lower().strip(" "))
            if len(tokens) >= n:
                out.append(
                    list(
                        dict.fromkeys(
                            " ".join(tokens[i : i + n])
                            for i in range(len(tokens) - n + 1)
                        )
                    )
                )
            else:
                out.append([" ".join(tokens)])
        return pd.Series(out)

    sh.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return F.pandas_udf(sh, "array<string>")


def _char_shingle_list(t: str, n: int, ws) -> list[str]:
    """The single normalization + shingling rule (non-null input):
    lower -> trim of SPACE chars only (Spark ``trim`` strips ' '
    exclusively, unlike Python ``str.strip``) -> Java ``\\s`` =
    ``[ \\t\\n\\x0B\\f\\r]`` runs collapsed to one space -> n-char
    slices, first-occurrence-ordered distinct; strings shorter than n
    yield a single-element list. Shared by the shingle pandas_udf and
    the fused dense pack kernel so the two paths cannot drift."""
    s = ws.sub(" ", t.lower().strip(" "))
    if len(s) >= n:
        return list(dict.fromkeys(s[i : i + n] for i in range(len(s) - n + 1)))
    return [s]


def _char_shingles_arrow(n: int = 5):
    """Arrow-batched pandas_udf equivalent of :func:`char_shingles`.

    Semantics replicate the expression form bit-for-bit (verified by
    tests/test_dedup.py) via :func:`_char_shingle_list`; NULLs yield
    ``[None]``.

    Why it exists: Python slicing over an Arrow batch is ~6x cheaper
    than the interpreted transform/substring HOF, and — unlike a
    deterministic Column expression — a UDF is never CLONED into
    FileScan data-filters or join conditions by pushdown, so each scan
    branch shingles exactly once.
    """
    import re

    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def sh(texts):
        out = []
        for t in texts:
            if t is None:
                out.append([None])
                continue
            out.append(_char_shingle_list(t, n, ws))
        return pd.Series(out)

    sh.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return F.pandas_udf(sh, "array<string>")


def _minhash_params(num_hashes: int, seed: int) -> tuple[list[int], list[int]]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _P, size=num_hashes).tolist()
    b = rng.randint(0, _P, size=num_hashes).tolist()
    return a, b


def minhash_signature(
    shingles: Column, num_hashes: int = 64, seed: int = 42
) -> Column:
    """MinHash signature (array<long>, length num_hashes) of a shingle
    array: sig_i = min over shingles of (a_i * (xxhash64(s) mod P) + b_i) mod P.

    WARNING (cost model): this inlines ``shingles`` into every hash
    expression. If ``shingles`` is itself an expensive expression
    (tokenize/regex), STAGE it into a named column first and pass
    ``F.col(...)`` here, or use ``minhash_signature_from_hashes`` —
    inlining an expression tree means Catalyst re-evaluates it per
    reference (benchmarking showed a 60x slowdown from exactly this).
    """
    base = F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_P)))
    return minhash_signature_from_hashes(base, num_hashes, seed)


def minhash_signature_from_hashes(
    hmod: Column | str, num_hashes: int = 64, seed: int = 42
) -> Column:
    """Signature from ALREADY-REDUCED shingle hashes (array<long>,
    values in [0, P)). Reference ``hmod`` through a named column so the
    underlying shingle pipeline is evaluated once; each of the
    num_hashes mins is then a single pass over a small int array.

    STRING-FORM CONTRACT: a str ``hmod`` is backtick-quoted as ONE
    top-level column name (dots included — ``a.b`` means the column
    literally named ``a.b``). This differs from ``F.col(str)``, which
    parses dots as struct-field access; a caller addressing a nested
    field must pass the Column form (``F.col("s.field")``) instead.
    Every internal caller passes simple top-level names."""
    a, b = _minhash_params(num_hashes, seed)
    if isinstance(hmod, str):
        # build the num_hashes-wide expression as ONE SQL string: the
        # Column-API form issues ~6 py4j round-trips per hash lane
        # (transform/lambda/pmod/lit/lit/array_min), ~0.4 s of driver
        # plan-construction per call at 64 lanes — paid on EVERY run,
        # which is what a bench median measures. One expr() parse is
        # JVM-side and amortizes to ~15 ms. Arithmetic is identical
        # (long literals, same pmod), pinned by the parity test.
        ref = "`" + hmod.replace("`", "``") + "`"
        lanes = ",".join(
            f"array_min(transform({ref},"
            f" h -> pmod(h * {a[i]}L + {b[i]}L, {_P}L)))"
            for i in range(num_hashes)
        )
        return F.expr(f"array({lanes})")
    return F.array(
        *[
            F.array_min(
                F.transform(
                    hmod, lambda h: F.pmod(h * F.lit(a[i]) + F.lit(b[i]), F.lit(_P))
                )
            )
            for i in range(num_hashes)
        ]
    )


def _staged_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle_words: int,
    seed: int,
) -> DataFrame:
    """STAGED projections (id, __sig, __sh): tokenization -> hashes ->
    signature. Each stage references the previous through a named
    column, so the expensive shingle pipeline runs once per row —
    inlining it into the 64 hash expressions re-evaluates it 64x
    (measured: ~60x wall-clock on the sf0.1 documents table).
    Tokenization itself is the Arrow-batched kernel: one eval per row,
    never cloned into the downstream hash/distinct projections the way
    Catalyst inlines a non-cheap expression tree; xxhash64 stays
    JVM-side."""
    shingler = _word_shingles_arrow(shingle_words)
    txt = F.col(text_col) if isinstance(text_col, str) else text_col
    return (
        # NULL-text rows are excluded up front: a NULL document shingles
        # to [NULL], whose xxhash64 SKIPS the null element and returns
        # the seed — a CONSTANT signature that would band every pair of
        # NULL docs together as a perfect "near-duplicate" (quadratic
        # spurious pairs in minhash_lsh_pairs, and novel_minhash would
        # silently drop every NULL-text new row once the corpus holds a
        # single NULL doc). Same short-circuit as ngram_jaccard_pairs.
        df.filter(txt.isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            shingler(txt).alias("__shingles"),
        )
        # ONE xxhash64 pass over the shingle strings; __hmod and __sh
        # both derive from the staged __h array (hashing the strings
        # separately for each output doubled the string-hash work)
        .select(
            "__id",
            F.transform(F.col("__shingles"), lambda s: F.xxhash64(s)).alias("__h"),
        )
        .select(
            "__id",
            F.transform(F.col("__h"), lambda h: F.pmod(h, F.lit(_P))).alias(
                "__hmod"
            ),
            F.array_distinct(F.col("__h")).alias("__sh"),
        )
        .select(
            "__id",
            minhash_signature_from_hashes("__hmod", num_hashes, seed).alias("__sig"),
            "__sh",
        )
    )


def _banded(base: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """SLIM band table (id, band_idx, band_hash): the bands-x-exploded
    rows carry ONLY the 3 narrow columns — never the shingle-hash
    arrays. Shuffling the ~400B/doc arrays through the explode would
    multiply shuffle volume by the band count; instead the (small,
    LSH-selected) deduped pair list joins BACK to the per-doc array
    table for verification, so the arrays are scanned twice but
    shuffled at most once, un-exploded."""
    if num_hashes % bands != 0:
        # a ValueError, not assert: under python -O a silent remainder
        # would hash only bands*(num_hashes//bands) signature entries,
        # degrading LSH recall with no error
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})"
        )
    rows_per_band = num_hashes // bands
    return base.select(
        "__id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.struct(
                    i.alias("band_idx"),
                    F.hash(
                        F.slice(F.col("__sig"), i * rows_per_band + 1, rows_per_band)
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select("__id", "band.band_idx", "band.band_hash")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding + exact-Jaccard
    verification on the shingle-hash sets.

    Plan shape: project (id, sig, shingle_hashes) → explode bands →
    self-equi-join on (band, band_hash) → distinct candidate pairs →
    verify with exact Jaccard (array_intersect on shingle hashes).
    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    # materialize the staged (id, sig, shingle-hash) projection ONCE:
    # three plan branches read it (the band explode plus both sides of
    # the verify join-back), and without the checkpoint each branch
    # re-executes the Arrow shingle kernel + string hashing — measured
    # ~3x the signature-build cost at sf0.1. Storage is slim (64
    # longs + the distinct hash array per doc, never the text), so
    # executor storage stays small even at fact scale; the RDD is
    # freed by the ContextCleaner when the plan is garbage-collected.
    base = _staged_minhash(
        df, id_col, text_col, num_hashes, shingle_words, seed
    ).localCheckpoint(eager=False)
    banded = _banded(base, num_hashes, bands)

    left = banded.select(F.col("__id").alias("id_a"), "band_idx", "band_hash")
    right = banded.select(F.col("__id").alias("id_b"), "band_idx", "band_hash")
    cands = (
        left.join(right, on=["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    hashed = base.select("__id", "__sh")
    fa = hashed.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    fb = hashed.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    jac = exact_jaccard("sh_a", "sh_b")
    return (
        cands.join(fa, on="id_a")
        .join(fb, on="id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def novel_exact(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Incremental exact dedup: rows of ``new_df`` whose
    normalized-content fingerprint (lower-cased, whitespace-collapsed
    md5 — textops.fingerprint semantics) does NOT already appear in
    ``corpus_df``, with in-batch duplicates also collapsed to the
    min-id survivor.

    The anti-join ships only (fingerprint) for the corpus side and
    (fingerprint, id) for the new side — at 100 TB the corpus scan
    reduces to a 16-byte-per-doc digest exchange, and in the steady
    state the corpus fingerprints are a precomputed column, making
    ingest-novelty one pruned scan + one hash anti-join.

    NULL text: fingerprint_expr yields NULL, coalesced to a 0x00
    sentinel so NULL-content rows compare EQUAL everywhere — against
    the corpus AND in-batch (exact_dedup's sentinel semantics). The
    raw NULL key matched nothing in the equi-join yet grouped
    together in the survivor window: two contradictory NULL-equality
    rules inside one operator."""
    from clustering_spark.operators.textops import fingerprint_expr

    # THE shared fingerprint definition — textops.fingerprint calls
    # the same helper, so the dedup paths can never silently drift
    # apart
    def fp(c):
        return F.coalesce(fingerprint_expr(c), F.lit("\x00"))
    new_fp = new_df.withColumn("__fp", fp(text_col))
    corpus_fp = corpus_df.select(fp(text_col).alias("__fp")).distinct()
    survivors = (
        new_fp.join(corpus_fp, on="__fp", how="left_anti")
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
            ),
        )
        .filter(F.col("__rk") == 1)
        .drop("__fp", "__rk")
    )
    return survivors


def novel_minhash(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Incremental NEAR-dup filter: rows of ``new_df`` that are not
    within ``jaccard_threshold`` of any ``corpus_df`` document.

    Same staged-signature + slim-band machinery as minhash_lsh_pairs,
    but the band join is new-vs-corpus instead of a self-join, and the
    verified hits feed a half-join back: candidates -> exact-Jaccard
    verify -> distinct hit ids -> left_anti against new_df. The corpus
    side never materializes pairs among itself, so incremental ingest
    cost is O(new x band collisions), independent of corpus-internal
    duplication. In-batch near-dups are NOT collapsed here — run
    minhash_lsh_pairs + the CC keep-filter on the survivors for that;
    keeping the two stages separate keeps each one's shuffle narrow.
    """
    # each staged side feeds TWO branches (its band explode and its
    # verify join-back) — same single-evaluation staging as
    # minhash_lsh_pairs, which matters doubly here because the corpus
    # side is the big one at ingest time
    base_new = _staged_minhash(
        new_df, id_col, text_col, num_hashes, shingle_words, seed
    ).localCheckpoint(eager=False)
    base_corp = _staged_minhash(
        corpus_df, id_col, text_col, num_hashes, shingle_words, seed
    ).localCheckpoint(eager=False)
    bn = _banded(base_new, num_hashes, bands).withColumnsRenamed(
        {"__id": "id_new"}
    )
    bc = _banded(base_corp, num_hashes, bands).withColumnsRenamed(
        {"__id": "id_corp"}
    )
    cands = (
        bn.join(bc, on=["band_idx", "band_hash"])
        .select("id_new", "id_corp")
        .dropDuplicates(["id_new", "id_corp"])
    )
    fa = base_new.select(F.col("__id").alias("id_new"), F.col("__sh").alias("sh_a"))
    fb = base_corp.select(F.col("__id").alias("id_corp"), F.col("__sh").alias("sh_b"))
    jac = exact_jaccard("sh_a", "sh_b")
    hits = (
        cands.join(fa, on="id_new")
        .join(fb, on="id_corp")
        .filter(jac >= jaccard_threshold)
        .select(F.col("id_new").alias(id_col))
        .distinct()
    )
    return new_df.join(hits, on=id_col, how="left_anti")


def _task_frame(spark, tasks: list[tuple[int]], col: str) -> DataFrame:
    """One-row-per-partition driver frame for the blocked all-pairs
    kernels: ``parallelize(tasks, len(tasks))`` pins one kernel task
    per Spark task with NO shuffle — the previous
    ``createDataFrame().repartition(n)`` paid a round-robin exchange
    stage (plus its AQE bookkeeping) per run just to spread 32 tiny
    rows."""
    sc = spark.sparkContext
    return spark.createDataFrame(
        sc.parallelize(tasks, max(1, len(tasks))), f"{col} long"
    )


def _bitmap_pack_udf(vocab: dict[str, int], nwords: int):
    """Arrow-batched kernel: shingle array -> packed bitmap over the
    (bounded) vocabulary, as ``nwords`` signed int64 words."""
    voc = vocab  # local binding for the closure

    def _pack(shs):
        out = []
        for arr in shs:
            words = [0] * nwords
            for s in arr:
                i = voc.get(s)
                if i is not None:
                    words[i >> 6] |= 1 << (i & 63)
            out.append([w - (1 << 64) if w >= (1 << 63) else w for w in words])
        return pd.Series(out)

    _pack.__annotations__ = {"shs": pd.Series, "return": pd.Series}
    return F.pandas_udf(_pack, "array<long>")


def _dense_pack_partition(n: int, cap: int):
    """mapInPandas kernel for the FUSED dense probe+pack (one Python
    crossing, one action): shingles each text with the exact
    :func:`_char_shingle_list` rule, builds a PARTITION-LOCAL
    vocabulary on the fly (append-only index, capped at ``cap``
    entries), and packs each doc's indicator bits over the
    vocabulary-so-far (append-only indexes make earlier rows' shorter
    bitmaps valid prefixes — absent bits are absent shingles). Emits,
    per partition: one kind=0 row per doc ``(pid, __id, bits)``, then a
    trailing kind=1 row carrying the local vocabulary in index order —
    or a single kind=2 sentinel when the local vocabulary alone
    overflows ``cap`` (the corpus is certainly SPARSE; the task stops
    shingling and drains its input). The driver unions the local
    vocabularies and remaps the bitmaps; bit layout is np.packbits
    big-endian per byte, the same convention
    :func:`_dense_bitmap_allpairs` unpacks."""
    import re

    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def gen(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        vocab: dict[str, int] = {}
        overflow = False
        dummy_id = None
        for b in batches:
            ids = b["__id"].to_numpy()
            if len(ids) == 0:
                continue
            if dummy_id is None:
                dummy_id = ids[0]
            row_idx: list[np.ndarray] = []
            for t in b["__txt"]:
                li = []
                for s in _char_shingle_list(t, n, ws):
                    i = vocab.get(s)
                    if i is None:
                        i = len(vocab)
                        if i >= cap:
                            overflow = True
                            break
                        vocab[s] = i
                    li.append(i)
                if overflow:
                    break
                row_idx.append(np.asarray(li, dtype=np.int64))
            if row_idx:
                nbytes = max(1, (len(vocab) + 7) // 8)
                m = np.zeros((len(row_idx), nbytes), dtype=np.uint8)
                lens = np.fromiter(
                    (len(a) for a in row_idx), np.int64, len(row_idx)
                )
                total = int(lens.sum())
                if total:
                    rows = np.repeat(np.arange(len(row_idx)), lens)
                    cols = np.concatenate(row_idx)
                    np.bitwise_or.at(
                        m,
                        (rows, cols >> 3),
                        (128 >> (cols & 7)).astype(np.uint8),
                    )
                yield pd.DataFrame(
                    {
                        "kind": np.zeros(len(row_idx), np.int8),
                        "pid": np.full(len(row_idx), pid, np.int32),
                        "__id": ids[: len(row_idx)],
                        "bits": [r.tobytes() for r in m],
                        "vocab": [None] * len(row_idx),
                    }
                )
            if overflow:
                yield pd.DataFrame(
                    {
                        "kind": np.int8([2]),
                        "pid": np.int32([pid]),
                        "__id": [dummy_id],
                        "bits": [b""],
                        "vocab": [None],
                    }
                )
                for _ in batches:  # drain: no more Python work
                    pass
                return
        if vocab:
            yield pd.DataFrame(
                {
                    "kind": np.int8([1]),
                    "pid": np.int32([pid]),
                    "__id": [dummy_id],
                    "bits": [b""],
                    "vocab": [list(vocab)],
                }
            )

    return gen


def _np_popcount_rows(a: np.ndarray) -> np.ndarray:
    """Total popcount along the last axis of an int64 array.

    Fallback is a uint8 lookup table (measured 8x faster than a SWAR
    arithmetic popcount on kernel-shaped temporaries — the gather stays
    in L1 and numpy's reduction over the trailing byte axis is cheap).
    """
    if hasattr(np, "bitwise_count"):
        return np.bitwise_count(a.view(np.uint64)).sum(-1)
    pop8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint16)
    return pop8[np.ascontiguousarray(a).view(np.uint8)].sum(-1)


def _dense_bitmap_allpairs(
    spark, pdf: pd.DataFrame, id_type, threshold: float
) -> DataFrame:
    """Exact Jaccard over ALL pairs of packed shingle bitmaps, as a
    blocked numpy kernel (the FAISS-brute-force shape): the bitmap
    table (bounded by ``allpairs_max_docs`` × ~V/8 bytes) is broadcast;
    each task scores a row-block against the j > i remainder.

    |A∩B| is the inner product of the two 0/1 indicator vectors, so the
    score is a chunked float32 GEMM: unpack each bitmap chunk with
    ``np.unpackbits`` and let BLAS do the pair scoring — measured 14x
    faster than AND+popcount on the same corpus (1.7 s vs 24 s of
    single-core kernel time at 5k docs x 2k vocab), and exact: counts
    are integers <= vocab <= 4096 < 2^24, below float32's integer
    precision limit. |A| comes from a one-shot popcount over the same
    distinct-shingle universe, so results are identical to the
    set-based verify. Working set per task is bounded by the chunk
    sizes (~80 MB at the 4096-bit vocab cap: one 4 MB i-panel, one
    64 MB j-panel, 4 MB score tiles), independent of n and parallelism.

    Task skew: block b scores (n - b*block) rows of j, so plain
    round-robin blocks would make task 0 do ~2x the mean work; each
    task instead takes a MIRROR PAIR of i-blocks (b, nblocks-1-b) whose
    workloads sum to ~constant."""
    from pyspark.sql import types as T

    pdf = pdf.sort_values("__id", kind="mergesort").reset_index(drop=True)
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )
    n = len(pdf)
    if n < 2:
        return spark.createDataFrame([], out_schema)
    ids = pdf["__id"].to_numpy()
    bits = np.vstack(pdf["__bits"].to_numpy()).astype(np.int64)
    sizes = _np_popcount_rows(bits).astype(np.float64)
    u8 = np.ascontiguousarray(bits).view(np.uint8)
    bc = spark.sparkContext.broadcast((ids, u8, sizes))
    par = max(1, spark.sparkContext.defaultParallelism)
    block = max(1, (n + 2 * par - 1) // (2 * par))
    nblocks = (n + block - 1) // block
    # mirror pairing: task k owns i-blocks {k, nblocks-1-k}
    tasks = [(k,) for k in range((nblocks + 1) // 2)]
    sdf = _task_frame(spark, tasks, "task")
    t = float(threshold)
    ichunk, jchunk = 256, 4096

    def gen(pdf_iter):
        ids_, u8_, sizes_ = bc.value
        nn = len(ids_)

        def score_block(b):
            b0 = b * block
            b1 = min(b0 + block, nn)
            for i0 in range(b0, b1, ichunk):
                i1 = min(i0 + ichunk, b1)
                ai = np.unpackbits(u8_[i0:i1], axis=1).astype(np.float32)
                for j0 in range(i0, nn, jchunk):
                    j1 = min(j0 + jchunk, nn)
                    bj = np.unpackbits(u8_[j0:j1], axis=1).astype(np.float32)
                    inter = (ai @ bj.T).astype(np.float64)
                    union = sizes_[i0:i1, None] + sizes_[None, j0:j1] - inter
                    with np.errstate(divide="ignore", invalid="ignore"):
                        jac = np.where(union > 0.0, inter / union, 1.0)
                    ii, jj = np.nonzero(jac >= t)
                    gi, gj = ii + i0, jj + j0
                    # strict upper triangle, PLUS the duplicate-__id
                    # guard the cosine kernels carry: two rows sharing
                    # an id sit at distinct sorted indices, and the
                    # prefix-join regime / DuckDB oracle both exclude
                    # the resulting id_a == id_b self-pair
                    keep = (gi < gj) & (ids_[gi] != ids_[gj])
                    if keep.any():
                        # Spark round() is HALF_UP; np.round is
                        # half-even — match Spark (jaccard is >= 0)
                        jv = _round6_half_up(jac[ii[keep], jj[keep]])
                        yield pd.DataFrame(
                            {
                                "id_a": ids_[gi[keep]],
                                "id_b": ids_[gj[keep]],
                                "jaccard": jv,
                            }
                        )

        for chunk in pdf_iter:
            for k in chunk["task"]:
                blocks = {int(k), nblocks - 1 - int(k)}
                for b in blocks:
                    yield from score_block(b)

    return sdf.mapInPandas(gen, out_schema)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    jaccard_threshold: float = 0.5,
    max_shingle_df: float = 1.0,
    n_docs: int | None = None,
    dense_vocab_max: int = 4096,
    allpairs_max_docs: int = 65536,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs with PREFIX-FILTERED candidate
    generation and EXACT Jaccard verification. SQL-expressible
    end-to-end → DuckDB-oracle-checked.

    Prefix filtering (the classic exact-set-similarity-join prune,
    cf. PPJoin): order every document's shingles by a GLOBAL total
    order (document frequency asc, then shingle value); two sets with
    J(A,B) >= t MUST share a shingle within their first
    ``|X| - ceil(t*|X|) + 1`` elements under that order. So the
    inverted index explodes only each doc's prefix — its globally
    RAREST shingles — and candidate volume collapses while recall
    stays 100% (lossless, unlike df-capped pruning). Verification
    joins candidates back to the full distinct shingle arrays and
    computes exact |A∩B| / |A∪B|.

    ``max_shingle_df`` (default 1.0 = lossless, every result
    identical to brute force) optionally hard-caps the document
    frequency of join keys as an EXPLICIT OPT-IN cost guard for
    adversarially dense corpora — when < 1.0 it can cost recall for
    pairs whose entire prefix is stop-shingles, and the DuckDB oracle
    does not model the cap, so opting in trades oracle parity for
    cost; the lossless scale path for dense data is
    ``minhash_lsh_pairs``. Thresholds come from caller-supplied
    ``n_docs`` or a 1-row count broadcast.

    ADAPTIVE REGIMES (``dense_vocab_max=0`` disables the dense attempt
    and its action for strictly lazy composition):

    * DENSE + BOUNDED (vocab <= dense_vocab_max AND n_docs <=
      allpairs_max_docs): prefix filtering degenerates — every shingle
      is frequent and ~half of all pairs survive the filters — so
      candidate generation costs more than brute force. Each doc's
      shingle SET packs into a ceil(V/64)-long bitmap; a blocked numpy
      AND+popcount kernel scores all pairs exactly from a broadcast of
      the (bounded, ~V/8 bytes/doc) bitmap table. Probe + pack +
      shingling run as ONE fused mapInPandas action with
      partition-local vocabularies remapped on the driver
      (:func:`_dense_pack_partition`); overflow of either cap falls
      through to the prefix join with the frame discarded.
    * DENSE + LARGE: prefix join for candidates, bitmap AND+popcount
      HOF for verification (~30x cheaper than hash-set
      ``array_intersect`` on 200-element arrays, same exact |A∩B|).
    * SPARSE (vocab > dense_vocab_max): prefix join + exact
      ``array_intersect`` verify over distinct xxhash64 arrays.
    """
    from pyspark.sql import Window

    # NULL-text rows are short-circuited out of the pair search: a NULL
    # document shingles to [NULL], which the bitmap cannot represent and
    # the vocab sort cannot order — and "two missing documents are
    # near-duplicates" is not a meaningful answer anyway.
    shingler = _char_shingles_arrow(n)
    txt = F.col(text_col) if isinstance(text_col, str) else text_col
    base = df.filter(txt.isNotNull()).select(
        F.col(id_col).alias("__id"),
        shingler(txt).alias("__sh"),
    )
    sh = base.select(
        "__id", F.size("__sh").alias("__n"), F.explode("__sh").alias("shingle")
    )

    # unfiltered docfreq = the full shingle vocabulary; the df-cap (if
    # any) applies only to prefix JOIN KEYS, never to the verify sets
    docfreq_full = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))

    if not (0.0 < jaccard_threshold <= 1.0):
        # t <= 0 would silently break the completeness contract: pairs
        # sharing NO shingle (J = 0) are never generated by any join,
        # so "all pairs with J >= t" is unsatisfiable; t > 1 is vacuous
        raise ValueError(
            f"jaccard_threshold must be in (0, 1], got {jaccard_threshold}"
        )
    vocab: dict[str, int] | None = None
    need_large_probe = dense_vocab_max > 0 and not (
        n_docs is None or n_docs <= allpairs_max_docs
    )
    if dense_vocab_max > 0 and not need_large_probe:
        # DENSE + BOUNDED attempt: prefix filtering degenerates on
        # dense corpora — every shingle is frequent, so roughly half of
        # all pairs survive the prefix+positional filters (measured on
        # the bench corpus: 6.3M candidates of 12.5M possible) and
        # candidate GENERATION (an 89M-row inverted-index self-join)
        # costs more than brute force. Under ``allpairs_max_docs`` the
        # packed-bitmap table (~V/8 bytes/doc) fits on the driver and
        # the blocked numpy all-pairs kernel is exact and several times
        # cheaper end-to-end.
        #
        # Probe + pack + shingle-kernel are FUSED into ONE action and
        # ONE Python crossing (the previous shape spent two actions — a
        # vocab collect, then a bitmap-pack toPandas — each chaining
        # shingle-UDF -> consumer through a JVM round-trip of 500k
        # shingle strings, plus a cache round-trip of the fat arrays).
        # ``_dense_pack_partition`` shingles and packs against a
        # PARTITION-LOCAL vocabulary; the driver unions the (bounded,
        # <= cap-entry) local vocabularies and remaps the bitmap
        # columns — pure numpy. Driver transfer stays bounded exactly
        # like before: the limit caps rows at allpairs_max_docs+1 docs
        # + one <= cap-string vocab row per partition, each doc row
        # <= ceil(cap/8) bytes of bitmap — and ANY truncation by the
        # limit implies len(raw) == K, which falls through, so a
        # partial frame is never misread as complete.
        from pyspark.sql import types as T

        src = df.filter(txt.isNotNull()).select(
            F.col(id_col).alias("__id"), txt.alias("__txt")
        )
        n_parts = src.rdd.getNumPartitions()
        out_schema = T.StructType(
            [
                T.StructField("kind", T.ByteType()),
                T.StructField("pid", T.IntegerType()),
                T.StructField("__id", df.schema[id_col].dataType),
                T.StructField("bits", T.BinaryType()),
                T.StructField("vocab", T.ArrayType(T.StringType())),
            ]
        )
        K = allpairs_max_docs + 1 + n_parts
        raw = (
            src.mapInPandas(
                _dense_pack_partition(n, dense_vocab_max), out_schema
            )
            .limit(K)
            .toPandas()
        )
        if (raw["kind"] == 2).any():
            pass  # a single partition's vocabulary overflowed: SPARSE
        elif (
            len(raw) >= K
            or int((raw["kind"] == 0).sum()) > allpairs_max_docs
        ):
            # over the all-pairs doc cap (or truncated): the corpus is
            # too big for the driver kernel; probe below decides the
            # prefix-join verify regime. The DOC-row count is checked
            # directly, not just len(raw) >= K: K budgets one vocab row
            # per partition, but EMPTY partitions emit no vocab row, so
            # a frame with up to n_parts doc rows beyond the cap could
            # otherwise read as 'complete' and overshoot the documented
            # driver-collect bound by the partition count (results stay
            # exact either way — this pins the collect budget).
            need_large_probe = True
        else:
            # complete frame: union the local vocabularies
            gvocab: dict[str, int] = {}
            luts: dict[int, np.ndarray] = {}
            for _, vrow in raw[raw["kind"] == 1].iterrows():
                vlist = list(vrow["vocab"])
                for s in vlist:
                    if s not in gvocab:
                        gvocab[s] = len(gvocab)
                luts[int(vrow["pid"])] = np.fromiter(
                    (gvocab[s] for s in vlist), np.int64, len(vlist)
                )
            docs = raw[raw["kind"] == 0]
            if len(gvocab) > dense_vocab_max:
                pass  # union overflows the cap: SPARSE, frame discarded
            else:
                nwords = max(1, (len(gvocab) + 63) // 64)
                G = np.zeros((len(docs), nwords * 64), dtype=np.uint8)
                for i, (pid_v, bits_v) in enumerate(
                    zip(docs["pid"].to_numpy(), docs["bits"])
                ):
                    lb = np.unpackbits(np.frombuffer(bits_v, np.uint8))
                    lidx = np.nonzero(lb)[0]
                    if len(lidx):
                        G[i, luts[int(pid_v)][lidx]] = 1
                mat = (
                    np.packbits(G, axis=1)
                    .reshape(len(docs), nwords, 8)
                    .reshape(len(docs), nwords * 8)
                    .copy()
                    .view(np.int64)
                )
                dense_pdf = pd.DataFrame(
                    {"__id": docs["__id"].to_numpy(), "__bits": list(mat)}
                )
                return _dense_bitmap_allpairs(
                    df.sparkSession,
                    dense_pdf,
                    df.schema[id_col].dataType,
                    jaccard_threshold,
                )
    if need_large_probe:
        # corpus over the all-pairs cap: bounded vocabulary probe only
        # (<= cap+1 rows, no per-doc collect) to pick the verify regime
        # — packed-bitmap verify when the vocabulary fits, hashed-set
        # intersection otherwise
        probe = (
            base.select(F.explode("__sh").alias("shingle"))
            .distinct()
            .limit(dense_vocab_max + 1)
            .collect()
        )
        if len(probe) <= dense_vocab_max:
            vocab = {
                s: i
                for i, s in enumerate(sorted(p["shingle"] for p in probe))
            }

    docfreq = docfreq_full
    if max_shingle_df < 1.0:
        if n_docs is not None:
            docfreq = docfreq.filter(F.col("__df") <= int(max_shingle_df * n_docs))
        else:
            total = df.agg(F.count(F.lit(1)).alias("__n_docs"))
            docfreq = (
                docfreq.crossJoin(F.broadcast(total))
                .filter(
                    F.col("__df")
                    <= F.floor(F.lit(max_shingle_df) * F.col("__n_docs"))
                )
                .select("shingle", "__df")
            )

    # rank each doc's shingles by global rarity; keep the Jaccard
    # probe prefix |X| - ceil(t*|X|) + 1. The join key is the
    # xxhash64 of the shingle: a fixed 8-byte long sorts/compares
    # cheaper through the shuffle than the n-char string, and a
    # 64-bit collision can only ADD a candidate pair, which exact
    # verification then rejects — lossless.
    #
    # Every ceil below is EXACT INTEGER arithmetic: ceil(t*n) computed
    # in float overshoots the true rational ceiling when the product is
    # mathematically integral but rounds up in binary (0.55*100 =
    # 55.000000000000007 -> ceil 56), silently DROPPING qualifying
    # pairs (|s|=55 satisfies 55 >= 0.55*100) — a lossless-contract
    # violation. Represent the threshold as a rational p/q <= t (exact
    # for any practically-specified threshold: limit_denominator(1e6)
    # recovers the decimal the caller typed; the floor-quantized
    # fallback only fires for thresholds with >6 significant decimals
    # and then RELAXES by <1e-6, which only ADMITS extra candidates for
    # the exact verify to reject). Then ceil(p*n/q) =
    # floor((p*n + q - 1)/q) on longs — tight AND lossless. The pair
    # bounds reuse the same p,q exactly: 2t/(1+t) = 2p/(p+q) and
    # t/(1+t) = p/(p+q), both increasing in t, so a rational <= t
    # keeps every bound a valid lower bound of the float-verify
    # threshold's. Numerators stay <= ~2e6 * n, exact in the double
    # division below for any real shingle count (< 2^53/2e6 ~ 4e9),
    # and q >= 1e-6 separates the true quotient from the next integer
    # by >> one double ulp, so floor() cannot misround.
    _p, _q = _threshold_fraction(jaccard_threshold)

    w = Window.partitionBy("__id").orderBy("__df", "shingle")
    prefix_len = (
        F.col("__n")
        - _ceil_ratio(F.col("__n"), _p, _q)
        + 1
    )
    prefix = (
        sh.join(docfreq, on="shingle")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= prefix_len)
        .select("__id", F.xxhash64("shingle").alias("__sid"), "__rn", "__n")
    )

    # Asymmetric prefix join (PPJoin index-prefix): for a pair with
    # J >= t the required overlap is a = ceil(t/(1+t)*(|A|+|B|)). In
    # terms of the SMALLER set s: |A|+|B| >= 2|s| so a >=
    # ceil(2t/(1+t)*|s|) and the smaller side only needs its first
    # |s| - ceil(2t/(1+t)*|s|) + 1 elements; the larger side l
    # satisfies |s| >= t*|l| so a >= ceil(t*|l|) — the probe prefix.
    # Both are lower bounds of the true a, so the generalized prefix
    # lemma (sets with |A∩B| >= a share an element within their first
    # |X|-a+1 under one total order) holds for the pair of prefixes —
    # lossless, and the join output shrinks by ~len_short/len_long.
    # Orientation (n, id) lexicographic makes each unordered pair
    # join exactly once with the short prefix on the smaller doc.
    t = jaccard_threshold
    short_len = F.col("__n") - _ceil_ratio(
        F.col("__n"), 2 * _p, _p + _q
    ) + 1
    ps = prefix.filter(F.col("__rn") <= short_len).select(
        F.col("__id").alias("id_s"),
        "__sid",
        F.col("__rn").alias("__rn_s"),
        F.col("__n").alias("__n_s"),
    )
    pl = prefix.select(
        F.col("__id").alias("id_l"),
        "__sid",
        F.col("__rn").alias("__rn_l"),
        F.col("__n").alias("__n_l"),
    )
    # positional filter (PPJoin): matching at prefix positions (i, j)
    # bounds the best possible overlap by min(|A|-i, |B|-j) + 1, which
    # must reach ceil(t/(1+t) * (|A|+|B|)) for J >= t — kills most
    # false candidates before the expensive distinct+verify. Lossless.
    min_overlap = _ceil_ratio(
        F.col("__n_s") + F.col("__n_l"), _p, _p + _q
    )
    best_possible = (
        F.least(
            F.col("__n_s") - F.col("__rn_s"), F.col("__n_l") - F.col("__rn_l")
        )
        + 1
    )
    smaller_first = (F.col("__n_s") < F.col("__n_l")) | (
        (F.col("__n_s") == F.col("__n_l")) & (F.col("id_s") < F.col("id_l"))
    )
    # size filter: J >= t forces |small| >= t*|large|
    size_ok = F.col("__n_s") >= _ceil_ratio(F.col("__n_l"), _p, _q)
    cands = (
        ps.join(pl, on="__sid")
        .filter(smaller_first & size_ok)
        .filter(best_possible >= min_overlap)
        .select(
            F.least("id_s", "id_l").alias("id_a"),
            F.greatest("id_s", "id_l").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    if vocab is not None:
        # DENSE regime: docs as packed bitmaps over the full (bounded)
        # vocabulary; |A∩B| = sum of popcounts of word-wise AND. Kept
        # as ONE zip_with/aggregate HOF on purpose: Catalyst treats the
        # HOF as non-cheap and will not inline a copy of it into the
        # join condition + filter + output projection the way it
        # duplicates an unrolled per-word sum (measured 10x slower via
        # expression blow-up). The packed table is ~8*nwords bytes/doc
        # — AQE broadcasts it when small, sort-merge joins otherwise.
        nwords = max(1, (len(vocab) + 63) // 64)
        pack = _bitmap_pack_udf(vocab, nwords)

        packed = base.select(
            "__id", F.size("__sh").alias("__nn"), pack("__sh").alias("__bits")
        )
        fa = packed.select(
            F.col("__id").alias("id_a"),
            F.col("__bits").alias("bits_a"),
            F.col("__nn").alias("__na"),
        )
        fb = packed.select(
            F.col("__id").alias("id_b"),
            F.col("__bits").alias("bits_b"),
            F.col("__nn").alias("__nb"),
        )
        inter = F.aggregate(
            F.zip_with("bits_a", "bits_b", lambda x, y: F.bit_count(x.bitwiseAND(y))),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double")
        # evaluate the popcount HOF exactly ONCE per candidate row:
        # without a barrier, predicate pushdown + projection collapse
        # inline a copy of `inter` into the broadcast-join condition,
        # the filter, and each of its 3 references in the jaccard
        # expression (measured ~1.5x slower end-to-end). `+ 0*rand()`
        # marks the column nondeterministic — a pushdown/collapse fence
        # — while adding exactly 0.0 to the value.
        iexp = inter + F.lit(0.0) * F.rand(seed=0)
        ui = (F.col("__na") + F.col("__nb")).cast("double") - F.col("__i")
        jac = F.when(ui > 0, F.col("__i") / ui).otherwise(F.lit(1.0))
        return (
            cands.join(fa, on="id_a")
            .join(fb, on="id_b")
            .withColumn("__i", iexp)
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= jaccard_threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        )
    else:
        # SPARSE regime: full shingle sets as DISTINCT xxhash64 arrays;
        # int64 intersection is several times cheaper than string
        # intersection across millions of candidate pairs, and
        # |hashes(A) ∩ hashes(B)| == |A ∩ B| up to 64-bit collisions
        # (~2^-64 per shingle pair — negligible). The per-doc array
        # table is linear in corpus size — no forced broadcast.
        hashed = base.select(
            "__id",
            F.array_distinct(
                F.transform(F.col("__sh"), lambda s: F.xxhash64(s))
            ).alias("__shh"),
        )
        fa = hashed.select(F.col("__id").alias("id_a"), F.col("__shh").alias("sh_a"))
        fb = hashed.select(F.col("__id").alias("id_b"), F.col("__shh").alias("sh_b"))
        verified = cands.join(fa, on="id_a").join(fb, on="id_b")
    return (
        verified.withColumn("jaccard", exact_jaccard("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# --------------------------------------------------------------- simhash


def simhash64(text: Column | str, shingle_words: int = 2) -> Column:
    """64-bit SimHash of word shingles: per-bit vote over shingle
    xxhash64s, entirely with array expressions.

    bit_j(doc) = 1 iff sum over shingles of (2*bit_j(h)-1) > 0.

    Shift amounts must be Python ints (``F.shiftright``/``F.shiftleft``
    reject Column shift args), so the 64 per-bit expressions are built
    in Python ``for j in range(64)`` loops; the vote accumulation is
    still ONE pass over the shingle array (64-element int accumulator).

    This pure-expression form exists for composability (plain Column
    in/out). The pairs operator below uses the Arrow-batched numpy
    packer instead — bit-twiddling 64 lanes per shingle is dense
    integer math, which interpreted HOF lambdas evaluate ~5x slower
    than a vectorized batch kernel.
    """
    return _sig_from_votes(_bit_vote_sums(text, shingle_words))


def _simhash_from_hashes_udf():
    """pandas_udf: array<long> shingle hashes -> packed int64 SimHash.
    Vectorized per Arrow batch: bits = sign(sum_j (2*bit_j - 1));
    numerically identical to the expression form (ties -> 0-bit)."""
    from pyspark.sql.functions import pandas_udf

    # NOTE: `from __future__ import annotations` stringifies hints,
    # which pandas_udf's type inference can't resolve from a nested
    # scope — set real annotations explicitly.
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)

    def pack(hashes):
        out = np.empty(len(hashes), dtype=np.int64)
        for i, h in enumerate(hashes):
            arr = np.ascontiguousarray(h, dtype=np.int64)
            if arr.size == 0:
                out[i] = 0
                continue
            # np.unpackbits over the little-endian byte view puts bit j
            # of each int64 at column j: one C pass replaces the 64-wide
            # int64 shift broadcast (measured ~1.9x faster per batch).
            # votes_j = 2*count_j - n, so bit_j = (2*count_j > n) —
            # identical to the ±1 vote sum incl. the tie -> 0-bit rule.
            counts = np.unpackbits(
                arr.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            ).sum(axis=0, dtype=np.int64)
            out[i] = ((2 * counts > arr.size).astype(np.uint64) @ weights).astype(
                np.int64
            )
        return pd.Series(out)

    pack.__annotations__ = {"hashes": pd.Series, "return": pd.Series}
    return pandas_udf(pack, "long")


def _bit_vote_sums(text: Column | str, shingle_words: int = 2) -> Column:
    """array<int>[64]: per-bit ±1 vote sums over the shingle hashes —
    ONE pass over the shingle array (64-element accumulator)."""
    hashes = F.transform(word_shingles(text, shingle_words), lambda s: F.xxhash64(s))

    def bit_votes(h: Column) -> Column:
        # ±1 vote per bit of one shingle hash; j is a Python int here.
        return F.array(
            *[
                (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1).cast("int")
                for j in range(64)
            ]
        )

    return F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(acc, bit_votes(h), lambda a, b: a + b),
    )


def _sig_from_votes(votes: Column | str) -> Column:
    """Pack the 64 vote sums into one signed long signature with a
    SINGLE evaluation of ``votes``: the vote array enters the plan
    once, as the zip_with input, and the per-bit weights ride a
    literal array. (The previous 64×-element_at form inlined a fresh
    copy of the whole vote-aggregate subtree per bit when handed an
    unnamed expression — the HOF-lambda re-evaluation pathology — so
    every public simhash64() caller paid up to 64 re-runs of the
    shingle+hash+vote pass; zip_with makes the helper safe for any
    input, named or not.)

    Bit 63 of a signed long cannot be ``F.lit(1 << 63)`` (overflows
    the JVM long); adding LONG_MIN sets exactly that bit, and since
    each weight touches a distinct bit, SUM == OR — numerically
    identical to the shiftleft/bitwiseOR form."""
    votes = F.col(votes) if isinstance(votes, str) else votes
    weights = F.array(
        *[F.lit(1 << j).cast("long") for j in range(63)],
        F.lit(-(1 << 63)).cast("long"),
    )
    terms = F.zip_with(
        votes,
        weights,
        lambda v, w: F.when(v > 0, w).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(terms, F.lit(0).cast("long"), lambda a, x: a + x)


def _hamming_chunks(max_hamming: int) -> list[tuple[int, int, int]]:
    """(chunk_idx, shift, width) splitting 64 bits into
    ``max_hamming + 1`` contiguous chunks — the pigeonhole guarantee:
    ``h`` differing bits spread over ``h+1`` chunks leave at least one
    chunk identical, for ANY ``h <= max_hamming``. Widths differ by at
    most 1 (remainder bits go to the low chunks). Wider radii mean
    narrower chunks and weaker join keys — selectivity falls as
    2^width — which is inherent to high-radius hamming search, not a
    property of this plan."""
    if not 0 <= max_hamming <= 31:
        # 32+ chunks of <=2 bits have useless selectivity; refuse
        raise ValueError(
            f"max_hamming must be in [0, 31], got {max_hamming}"
        )
    n = max_hamming + 1
    base, rem = divmod(64, n)
    chunks, shift = [], 0
    for i in range(n):
        w = base + (1 if i < rem else 0)
        chunks.append((i, shift, w))
        shift += w
    return chunks


def hamming_pair_search(sigs: DataFrame, max_hamming: int) -> DataFrame:
    """Pair search over a ``(__id, sig)`` 64-bit signature table:
    pigeonhole chunk equi-join candidates (``_hamming_chunks``) +
    ``bit_count`` verify. THE shared block for text SimHash
    (:func:`simhash_pairs`) and perceptual image dHash
    (multimodal.image_neardup_pairs) — one definition, so a skew or
    dedup fix applies to both. ``sigs`` is localCheckpoint'd here:
    both join sides read it, and one long per row is negligible
    executor storage at any scale. Returns (id_a, id_b, hamming),
    id_a < id_b."""
    if max_hamming == 0:
        # Radius 0 degenerates: the single 64-bit "chunk" IS the whole
        # signature, so the chunk self-join is equality on sig, every
        # pair joins exactly once (dropDuplicates is a no-op) and
        # sig_a == sig_b makes the XOR verify identically 0. One
        # groupBy-by-signature exchange replaces the two join-side
        # shuffles plus the dedup exchange; pairs are enumerated
        # natively inside each signature group. collect_set + sort
        # reproduces the join semantics exactly: a duplicated __id row
        # pairs with others once and never with itself, and NULL sigs
        # never match (equi-join drops NULL keys). Group size = exact-
        # duplicate cluster size; the id set per signature is linear in
        # what the pair output is already quadratic in, so this holds
        # wherever emitting the pairs at all does.
        ids = F.col("ids")
        # Same localCheckpoint as the generic branch, different reason:
        # only ONE consumer reads sigs here, but the isnotnull(sig)
        # filter below references the UDF-computed signature, and the
        # optimizer pushes it under the caller's spread-repartition —
        # duplicating the whole shingle+pack Arrow chain (guide §4.4
        # shape; measured: the win from the saved exchanges vanished).
        # Cutting lineage pins a single evaluation.
        sigs = sigs.localCheckpoint(eager=False)
        return (
            sigs.filter(F.col("sig").isNotNull())
            .groupBy("sig")
            .agg(F.array_sort(F.collect_set("__id")).alias("ids"))
            .filter(F.size(ids) >= 2)
            .select(
                F.explode(
                    F.flatten(
                        F.transform(
                            ids,
                            lambda x, i: F.transform(
                                F.slice(ids, i + F.lit(2), F.size(ids)),
                                lambda y: F.struct(
                                    x.alias("id_a"), y.alias("id_b")
                                ),
                            ),
                        )
                    )
                ).alias("p")
            )
            # bit_count returns int; match the generic branch's schema
            .select("p.id_a", "p.id_b", F.lit(0).cast("int").alias("hamming"))
        )
    sigs = sigs.localCheckpoint(eager=False)
    chunks = sigs.select(
        "__id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        # width 64 (only at max_hamming=0: one chunk =
                        # the whole signature) skips the mask — the
                        # mask is a no-op there and F.lit((1<<64)-1)
                        # overflows the JVM long, crashing the exact-
                        # duplicate search before any job runs
                        (
                            F.col("sig")
                            if width == 64
                            else F.shiftright(F.col("sig"), shift)
                            .bitwiseAND(F.lit((1 << width) - 1))
                        ).alias("chunk_val"),
                    )
                    # shift amounts must be Python ints — build the
                    # chunk structs in a Python loop, not F.transform
                    for i, shift, width in _hamming_chunks(max_hamming)
                ]
            )
        ).alias("c"),
    ).select("__id", "sig", "c.chunk_idx", "c.chunk_val")

    a = chunks.select(
        F.col("__id").alias("id_a"),
        F.col("sig").alias("sig_a"),
        "chunk_idx",
        "chunk_val",
    )
    b = chunks.select(
        F.col("__id").alias("id_b"),
        F.col("sig").alias("sig_b"),
        "chunk_idx",
        "chunk_val",
    )
    return (
        a.join(b, on=["chunk_idx", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    shingle_words: int = 2,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming. Candidates
    come from equality on one of ``max_hamming + 1`` disjoint bit
    chunks (pigeonhole — see :func:`_hamming_chunks`; at the default
    radius 3 that is the classic 4x16-bit split), verified with
    bit_count(a XOR b). The chunk count ADAPTS to the radius: a fixed
    4-chunk split is only complete for hamming <= 3 and silently lost
    pairs at wider radii."""
    # tokenization is the Arrow-batched kernel (one eval per row);
    # hashing stays JVM-side (xxhash64 over the materialized shingle
    # array); the 64-lane bit packing runs as a second Arrow kernel
    pack = _simhash_from_hashes_udf()
    shingler = _word_shingles_arrow(shingle_words)
    txt = F.col(text_col) if isinstance(text_col, str) else text_col
    sigs = (
        # NULL-text rows never enter the pair search: their shingle
        # array is [NULL], xxhash64 hash-skips the null and every NULL
        # doc would pack to the SAME signature — hamming 0 between any
        # two missing documents (see _staged_minhash for the same guard)
        df.filter(txt.isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            shingler(txt).alias("__shingles"),
        )
        .select(
            "__id",
            F.transform(F.col("__shingles"), lambda s: F.xxhash64(s)).alias(
                "__hashes"
            ),
        )
        .select("__id", pack("__hashes").alias("sig"))
    )
    # hamming_pair_search checkpoints the signature table (both chunk-
    # join sides read it; without that the shingle + pack Arrow
    # kernels re-execute per side — 2x the signature-build cost)
    return hamming_pair_search(sigs, max_hamming)


# ------------------------------------------------------------- embedding


def _dense_cosine_allpairs(
    base: DataFrame, threshold: float, max_rows: int = 65_536
) -> DataFrame:
    """Exact all-pairs cosine for the BOUNDED opt-in path: one capped
    driver collect, then block-row float64 GEMM tasks over a broadcast
    matrix — the same dense-regime kernel shape as
    ``_dense_bitmap_allpairs``. Replaces the previous cross-join +
    per-pair HOF cosine, which evaluated n²/2 aggregate lambdas
    (measured ~8x slower at n=500). float64 keeps the 6-decimal
    rounding in lockstep with the DuckDB oracle."""
    from pyspark.sql import types as T

    spark = base.sparkSession
    id_type = base.schema["__id"].dataType
    rows = base.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"exact all-pairs cosine is capped at {max_rows} rows; "
            "use the LSH path (lsh_planes>0) at scale"
        )
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    if not rows:  # (0, d) collect: (X**2).sum(axis=1) would raise
        return spark.createDataFrame([], out_schema)
    ids = np.asarray([r["__id"] for r in rows])
    X = np.array([r["__v"] for r in rows], dtype=np.float64)
    norms = np.sqrt((X**2).sum(axis=1))
    norms[norms == 0] = 1.0
    bc = spark.sparkContext.broadcast((ids, X, norms))
    n = len(ids)
    blk = 512
    nblocks = (n + blk - 1) // blk

    def gen(pdf_iter):
        ids_, X_, norms_ = bc.value

        def score_block(b):
            i0 = b * blk
            i1 = min(i0 + blk, n)
            # TRIANGLE GEMM: score only columns j >= i0 — the pair
            # (p, q) with p < q is owned by p's block, so the previous
            # full-rectangle X[i0:i1] @ X.T computed ~2x the needed
            # FLOPs and threw the j < i0 half away in the keep mask
            # (the sibling _dense_bitmap_allpairs always had this loop
            # shape). Local column index jj is offset by i0.
            C = (X_[i0:i1] @ X_[i0:].T) / np.outer(
                norms_[i0:i1], norms_[i0:]
            )
            C = _round6_half_up(C)
            ii, jj = np.nonzero(C >= threshold)
            gi = ii + i0
            gj = jj + i0
            keep = gj > gi  # strict upper triangle: each pair once
            gi, gj = gi[keep], gj[keep]
            a, b2 = ids_[gi], ids_[gj]
            lo = np.minimum(a, b2)  # emit with id_a < id_b by value
            hi = np.maximum(a, b2)
            cv = C[ii[keep], jj[keep]]
            # duplicate __id values can collapse a distinct-index
            # pair into a self-pair after min/max normalization —
            # the cross-join form's id_a < id_b excluded those
            ne = lo != hi
            yield pd.DataFrame(
                {"id_a": lo[ne], "id_b": hi[ne], "cosine": cv[ne]}
            )

        for pdf in pdf_iter:
            for s in pdf["k"]:
                k = int(s)
                # mirror pairing (same balance trick as the bitmap
                # kernel): block b scores n - b*blk columns, so task k
                # owns blocks {k, nblocks-1-k} whose work sums ~const
                for b in sorted({k, nblocks - 1 - k}):
                    yield from score_block(b)

    tasks = [(k,) for k in range((nblocks + 1) // 2)]
    starts = _task_frame(spark, tasks, "k")
    return starts.mapInPandas(gen, out_schema)


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    lsh_planes: int = 64,
    lsh_bands: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine >= threshold).

    DEFAULT is the scale path: BANDED random-hyperplane LSH (requires
    ``dim``). ``lsh_planes`` sign bits are split into ``lsh_bands``
    bands; a pair is a candidate if ANY band's bits all match (the
    same AND-OR amplification as MinHash banding — recall
    1-(1-p^r)^b with p = 1 - theta/pi, r bits per band), then exact
    cosine verifies. The self-join is an equi-join on
    (band_idx, band_bits): each band fans into 2^r buckets, so no
    all-pairs blow-up, and AQE re-plans skewed buckets.

    Selectivity model (size r = planes/bands): a random orthogonal-ish
    pair collides in a band with prob ~(1/2)^r, so candidates ~
    bands * n^2 / 2^r — r=8 keeps the candidate set ~3% of all pairs
    while pairs at cosine >= 0.95 (p >= 0.93/bit) are still found with
    prob > 0.999. Raise r for bigger corpora / higher thresholds; the
    default r=4 previously admitted ~40% of ALL pairs as candidates,
    which made the verify step quadratic in disguise.

    Brute-force all-pairs (the oracle / small-N path) is EXPLICIT
    opt-in via ``lsh_planes=0`` — a capped-collect + blocked GEMM
    kernel (see ``_dense_cosine_allpairs``) that must never run at
    scale.
    """
    v = F.col(vec_col).cast("array<double>")
    # NULL vectors carry no geometry to compare — and a single None in
    # an Arrow batch crashes every np.vstack kernel downstream (band
    # keys, pair verify, dense GEMM), so they are excluded up front.
    # NULL ids are excluded too (repo-wide pair-generator contract,
    # graph.dedup_by_component: "a NULL id can never appear in an
    # edge"): a None riding into the GEMM kernel's np.minimum id
    # ordering is a TypeError in the dense path and a NaN-poisoned
    # (None, None) junk pair after the long cast in the LSH path —
    # survivor selection keeps NULL-id rows unconditionally instead
    base = df.filter(v.isNotNull() & F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("__id"), v.alias("__v")
    )
    if lsh_planes == 0:
        return _dense_cosine_allpairs(base, threshold)
    if lsh_planes < 0:
        raise ValueError("lsh_planes must be >= 0")
    if dim is None:
        raise ValueError(
            "dim (embedding dimensionality) is required for the LSH "
            "path; pass lsh_planes=0 to explicitly opt into "
            "brute-force all-pairs"
        )
    if lsh_planes % lsh_bands != 0:
        # ValueError, not assert — survives python -O (see _banded)
        raise ValueError(
            f"lsh_bands ({lsh_bands}) must divide lsh_planes ({lsh_planes})"
        )
    bits_per_band = lsh_planes // lsh_bands
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((lsh_planes, dim))

    # the signature is a dense matrix product (batch x dim) @
    # (dim x planes) — an Arrow-batched numpy kernel; interpreted
    # per-element HOF lambdas measured ~5x slower on this shape
    from pyspark.sql.functions import pandas_udf

    def _band_keys(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        X = np.vstack(vecs.to_numpy())
        bits = (X @ planes.T) > 0  # (batch, lsh_planes)
        weights = (1 << np.arange(bits_per_band, dtype=np.int64))
        keys = [
            bits[:, b * bits_per_band : (b + 1) * bits_per_band].astype(np.int64)
            @ weights
            for b in range(lsh_bands)
        ]
        stacked = np.stack(keys, axis=1)  # (batch, bands)
        return pd.Series([row.tolist() for row in stacked])

    _band_keys.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    band_keys = pandas_udf(_band_keys, "array<long>")

    # materialize the SLIM (id, keys) projection once: both sides of
    # the self-join read it, and without the checkpoint the banding
    # UDF (an embedding scan + GEMM) re-executes per side. ~8 longs +
    # id per row, so executor storage stays tiny even at fact scale;
    # the RDD is unpersisted by the ContextCleaner when the plan is
    # garbage-collected.
    keyed = (
        base.select("__id", band_keys("__v").alias("__keys"))
        .localCheckpoint(eager=False)
    )
    join_cols = ["band_idx", "band_key"]
    banded = keyed.select(
        "__id", F.posexplode("__keys").alias("band_idx", "band_key")
    )

    # SLIM band join (same shape as minhash_lsh_pairs): band rows carry
    # only (id, band_idx, band_key) — the ~8*dim-byte vectors never ride
    # the band explode or the pair-dedup shuffle; the deduped candidate
    # pairs join back to the un-exploded vector table for the exact
    # cosine verify.
    a = banded.select(F.col("__id").alias("id_a"), *join_cols)
    b = banded.select(F.col("__id").alias("id_b"), *join_cols)
    cands = (
        a.join(b, on=join_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    fa = base.select(F.col("__id").alias("id_a"), F.col("__v").alias("v_a"))
    fb = base.select(F.col("__id").alias("id_b"), F.col("__v").alias("v_b"))

    # the per-pair cosine verify is dense float math over the (LSH-
    # selected, but still band^2-sized) candidate set — an Arrow-batch
    # numpy kernel; the interpreted aggregate/zip_with HOF form
    # measured ~4x slower on this shape at sf0.1. NaN marks zero-norm
    # pairs (numpy has no NULL); the JVM-side when() maps it back to
    # NULL so the threshold filter drops those pairs exactly like the
    # expression form's NULL-on-zero-denominator.
    def _pair_cos(va, vb):
        if len(va) == 0:
            return pd.Series([], dtype=float)
        A = np.vstack(va.to_numpy())
        B = np.vstack(vb.to_numpy())
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(den > 0, num / den, np.nan)
        return pd.Series(out)

    _pair_cos.__annotations__ = {
        "va": pd.Series,
        "vb": pd.Series,
        "return": pd.Series,
    }
    # asNondeterministic: the optimizer pushes the threshold filter
    # below the cosine projection and DUPLICATES a deterministic UDF —
    # plan showed two ArrowEvalPython[_pair_cos] nodes, every candidate
    # pair paying the verify GEMM twice (guide §4.4's exact pattern).
    # The function IS deterministic; the flag only forbids Catalyst
    # from cloning/reordering it, yielding a single evaluation.
    pair_cos = pandas_udf(_pair_cos, "double").asNondeterministic()
    # Alias the RAW UDF output in its own select before deriving
    # `cosine` from it: referencing the un-aliased Column in both the
    # projection and (via alias substitution) the filter leaves TWO
    # structurally identical nondeterministic calls, which Catalyst may
    # not dedupe — the plan carried one ArrowEvalPython node with two
    # _pair_cos output slots, every candidate paying the verify GEMM
    # twice. With the alias boundary the filter and projection both
    # reference the single pythonUDF0 attribute (plan-verified: one
    # slot), and the emitted rows are unchanged — same round/when/NaN
    # handling on the same raw values.
    scored = (
        cands.join(fa, on="id_a")
        .join(fb, on="id_b")
        .select("id_a", "id_b", pair_cos("v_a", "v_b").alias("__raw"))
    )
    raw = F.col("__raw")
    return (
        scored.withColumn("cosine", F.round(F.when(~F.isnan(raw), raw), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ------------------------------------------------------- contamination


def contamination_pairs(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    shingle_words: int = 3,
    min_shared: int = 3,
    broadcast_test: bool = True,
) -> DataFrame:
    """Benchmark-contamination check: (test doc, train doc) pairs that
    share >= ``min_shared`` distinct word n-grams — the n-gram-overlap
    decontamination rule used for LLM eval hygiene (GPT-3 appendix C
    shape, re-expressed relationally).

    Scale design: the TEST side is an eval benchmark — small by
    construction — so its exploded shingle table is broadcast
    (``broadcast_test``) and the train corpus is scanned ONCE,
    exploded, and hash-joined with no shuffle of train data; the only
    shuffle is the (test_id, train_id) count, whose key space is the
    match set, not the corpus. Set ``broadcast_test=False`` if the
    test side exceeds broadcast size; the join then shuffles both
    sides by shingle (still never all-pairs). Shingle arrays are
    distinct per doc, so the per-pair count IS the distinct shared
    count."""
    tr = train.select(
        F.col(id_col).alias("train_id"),
        F.explode(word_shingles(text_col, shingle_words)).alias("shingle"),
    )
    te = test.select(
        F.col(id_col).alias("test_id"),
        F.explode(word_shingles(text_col, shingle_words)).alias("shingle"),
    )
    if broadcast_test:
        te = F.broadcast(te)
    return (
        tr.join(te, "shingle")
        .groupBy("test_id", "train_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def passage_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 200,
    stride: int = 150,
    min_copies: int = 2,
) -> DataFrame:
    """Per-document repeated-PASSAGE statistics: what fraction of a
    document's chunks also appear (verbatim) in other documents. The
    chunk-granular approximation of suffix-array substring dedup
    ("Deduplicating Training Data Makes Language Models Better", Lee
    et al. 2022): document-level dedup keeps two distinct pages that
    share a long boilerplate passage, and models memorize exactly
    those shared passages. Output (doc_id, n_chunks, n_shared_chunks,
    shared_chunk_frac) is the quality-gate signal — a caller drops or
    down-weights docs above a shared-fraction threshold, or routes
    flagged (doc, chunk_start) spans to a surgical cutter.

    Scale shape: textops.chunk_documents emits (id, idx, start, md5)
    — never chunk text — so everything downstream shuffles 16-byte
    hashes: groupBy(chunk_md5) counting DISTINCT docs (self-repeats
    within one doc are repetition_signals' job, not cross-doc
    duplication), an equi-join back on the hash (both sides narrow,
    AQE-splittable), and one per-doc count. No all-pairs stage at any
    point; cost is linear in total chunks.
    """
    from clustering_spark.operators.textops import chunk_documents

    chunks = chunk_documents(df, id_col, text_col, size=size, stride=stride)
    copies = (
        chunks.groupBy("chunk_md5")
        .agg(F.countDistinct(id_col).alias("__n_docs"))
        .filter(F.col("__n_docs") >= min_copies)
        .select("chunk_md5")
    )
    marked = chunks.join(
        copies.withColumn("__shared", F.lit(1)), on="chunk_md5", how="left"
    )
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.coalesce(F.col("__shared"), F.lit(0))).alias("n_shared_chunks"),
        F.round(
            F.sum(F.coalesce(F.col("__shared"), F.lit(0)))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("shared_chunk_frac"),
    )


# ------------------------------------------------------ semantic dedup


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    nlist: int = 1024,
    seed: int = 42,
    max_cell_rows: int = 65_536,
    centroids=None,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space into
    ``nlist`` cells, then compare pairs ONLY within each cell with an
    exact cosine GEMM. The all-pairs O(n²) problem becomes
    O(n²/nlist) spread across cells — the shape that deduplicated
    LAION-scale corpora in the paper.

    Plan: centroid fit on a bounded sample (driver numpy, the
    ``similarity.IVFIndex`` kernel) → one Arrow GEMM pass assigns
    ``cell`` → ONE shuffle by cell → per-cell dense cosine inside an
    applyInPandas task (``spread_groups`` keeps AQE byte-coalescing
    from serializing the compute-bound cells). Vectors cross the wire
    exactly once.

    Approximation contract (same as the paper): pairs STRADDLING a
    cell boundary are missed by design — recall is traded for the
    n²/nlist cost bound. No false positives: every emitted pair is an
    exactly-computed cosine ≥ threshold. Cells larger than
    ``max_cell_rows`` raise (pick a bigger nlist) rather than OOM a
    task — per-cell memory is (rows × dim) float64.

    ``centroids`` (optional, (nlist, d) array-like): serve with a
    FROZEN codebook instead of fitting one — the train-once/apply-wide
    production shape, and what makes the operator oracle-replayable
    (the hash gate pins the codebook; cell assignment is then pure
    arithmetic).

    Returns (id_a, id_b, cosine) with id_a < id_b; compose with
    ``graph.connected_components`` + min-id (or keep-farthest-from-
    centroid, the paper's rule) for survivor selection.
    """
    from pyspark.sql import types as T

    from clustering_spark.operators.segmentation import spread_groups
    from clustering_spark.operators.similarity import IVFIndex

    # NULL vectors are excluded up front: no geometry to cluster, and a
    # None inside an Arrow batch crashes the cell_pairs np.vstack.
    # NULL ids too (pair-generator contract, graph.dedup_by_component):
    # Arrow hands cell_pairs a NULL long id as NaN, and NaN poisons the
    # min/max id ordering into (None, None, 1.0) junk pairs — NULL-id
    # rows are not edge material; survivor selection keeps them
    base = df.filter(
        F.col(vec_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    id_type = base.schema["__id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    # empty corpus — or one holding ONLY NULL vectors — leaves the
    # centroid fit no sample to stack; the answer is an empty pair
    # set, not a numpy stack error (same guard class as
    # _dense_cosine_allpairs' empty-collect fix). Probe ``base`` (the
    # NULL-filtered frame), not ``df``, so all-NULL corpora hit the
    # guard too.
    if base.limit(1).count() == 0:
        return df.sparkSession.createDataFrame([], out_schema)

    idx = IVFIndex(nlist=nlist, seed=seed)
    if centroids is not None:
        idx.centroids = np.asarray(centroids, dtype=np.float64)
    else:
        idx.fit(df, vec_col)  # IVFIndex numpy fit: no JVM job to guard
    celled = base.withColumn("cell", idx._cell_expr("__v"))
    cols = [f.name for f in out_schema.fields]

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({c: [] for c in cols})
        if n > max_cell_rows:
            raise ValueError(
                f"semantic_dedup cell holds {n} rows "
                f"(> max_cell_rows={max_cell_rows}); raise nlist"
            )
        ids = pdf["__id"].to_numpy()
        X = np.vstack(pdf["__v"].to_numpy()).astype(np.float64)
        norms = np.sqrt((X**2).sum(axis=1))
        norms[norms == 0] = 1.0
        C = _round6_half_up((X @ X.T) / np.outer(norms, norms))
        ii, jj = np.nonzero(C >= threshold)
        keep = jj > ii  # strict upper triangle
        ii, jj = ii[keep], jj[keep]
        a, b = ids[ii], ids[jj]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        ne = lo != hi  # duplicate id values: drop min/max self-pairs
        return pd.DataFrame(
            {"id_a": lo[ne], "id_b": hi[ne], "cosine": C[ii[ne], jj[ne]]}
        )

    return (
        spread_groups(celled, ["cell"])
        .groupBy("cell")
        .applyInPandas(cell_pairs, out_schema)
    )


def semantic_dedup_keep(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    nlist: int = 1024,
    seed: int = 42,
    centroids=None,
) -> DataFrame:
    """Survivor ids after semantic dedup: pairs → connected components
    → min-id survivor per component (consistent with every other dedup
    operator here; the paper's keep-farthest-from-centroid rule is a
    different tie-break over the same components). Output: the
    surviving subset of ``df`` ids, one column ``id_col``.
    ``centroids`` serves a frozen codebook (see semantic_dedup_pairs)."""
    from clustering_spark.operators.graph import connected_components

    pairs = semantic_dedup_pairs(
        df, id_col, vec_col, threshold=threshold, nlist=nlist, seed=seed,
        centroids=centroids,
    )
    comp = connected_components(pairs, "id_a", "id_b")
    ids = df.select(F.col(id_col))
    return (
        ids.join(
            comp.withColumnRenamed("node", id_col), on=id_col, how="left"
        )
        .withColumn("__comp", F.coalesce("comp", F.col(id_col)))
        # NULL-id rows survive unconditionally (same rule as
        # graph.dedup_by_component): they can never appear in an edge,
        # so they are provably not duplicates of anything — and under
        # plain == the NULL == NULL comparison is NULL, which silently
        # DROPPED them (data loss one operator after the pair
        # generator deliberately excluded them)
        .filter(
            F.col(id_col).isNull() | (F.col(id_col) == F.col("__comp"))
        )
        .select(id_col)
    )


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    shingle_words: int = 3,
    min_shared: int = 3,
    broadcast_test: bool = True,
) -> DataFrame:
    """Drop every training document flagged by
    :func:`contamination_pairs` — the REMOVAL step of eval hygiene
    (check → drop), as one anti-join on the flagged train-id set.
    Returns ``train`` minus contaminated rows, schema unchanged. The
    flagged-id frame is match-set-sized, so the anti-join is broadcast
    at any corpus scale."""
    flagged = (
        contamination_pairs(
            train,
            test,
            id_col,
            text_col,
            shingle_words=shingle_words,
            min_shared=min_shared,
            broadcast_test=broadcast_test,
        )
        .select(F.col("train_id").alias(id_col))
        .distinct()
    )
    return train.join(F.broadcast(flagged), on=id_col, how="left_anti")
