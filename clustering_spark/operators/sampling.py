"""Deterministic hash sampling and dataset splits (beyond-reference
scope). The reference samples with an UNSEEDED ``df.sample`` (SURVEY
§4.3.7 anti-pattern) — results change run to run. A training-data
pipeline needs the opposite: membership decided by a pure function of
the row key, so samples and train/val/test splits are reproducible
across runs, engines, and cluster sizes, and rows keep their
assignment when the corpus grows.

Mechanism: the first 8 hex chars of md5(key || salt) compared against
hex-threshold STRINGS — fixed-length lowercase hex compares
lexicographically exactly like the number it encodes, md5 is identical
everywhere (the DuckDB oracle replays it verbatim), and no UDF or RNG
is involved: a filter the optimizer can push to the scan.

COMPOSITION RULE (round-16 review): every operator here derives its
verdict from the SAME md5(key || salt) bucket, so two stages chained
over the same key MUST use distinct salts or their selections are
fully correlated — hash_sample(df, k, 0.2) followed by
hash_split(sampled, k, {...}) with both at the default salt labels
EVERY surviving row 'train' (all survivors sit below the 0.2
threshold, inside train's range). trainprep.prepare_corpus salts its
split stage ('prep') for exactly this reason. The default salt stays
'' because the gated oracles replay these exact hashes; pass
per-stage salts when composing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _nullsafe_key(key_col: str | Column) -> Column:
    """String form of the sample key with NULLs mapped to a '\\x00'
    sentinel: a bare concat/hash of a NULL key would be NULL, silently
    DROPPING every NULL-key row from samples and shunting them all into
    hash_split's last split. The
    sentinel gives the whole NULL-key class ONE deterministic hash.
    One home for the expression — _hex_bucket, cap_per_group, and
    hash_topn_sample must normalize the key IDENTICALLY or chained
    stages (pre-thin then cap) silently break determinism."""
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    return F.coalesce(key.cast("string"), F.lit("\x00"))


def _hex_bucket(key_col: str | Column, salt: str) -> Column:
    return F.substring(
        F.md5(F.concat(_nullsafe_key(key_col), F.lit(salt))),
        1,
        8,
    )


def _hex_threshold(fraction: float) -> str:
    """8-hex-char cutoff; ``fraction >= 1`` returns 'g', which every
    hex bucket sorts below — 'ffffffff' as a cutoff would drop rows
    whose md5 prefix is exactly ffffffff (p=2^-32/row: ~2 rows per
    10B-row stratum) from a keep-everything stratum."""
    if fraction >= 1.0:
        return "g"
    return format(max(int(fraction * 16**8), 0), "08x")


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Keep the deterministic ~``fraction`` of rows whose hashed key
    lands below the threshold. fraction >= 1 keeps everything."""
    if fraction >= 1.0:
        return df
    if fraction <= 0.0:
        return df.limit(0)
    return df.filter(_hex_bucket(key_col, salt) < F.lit(_hex_threshold(fraction)))


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict,
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling: each stratum keeps its own
    hash fraction (e.g. downsample 'en' to 10%, keep low-resource
    languages whole — the standard corpus rebalancing move). Same
    pushdown-friendly md5-threshold filter as hash_sample, just with a
    per-stratum threshold literal; unknown strata keep
    ``default_fraction``. Membership stays a pure function of
    (key, stratum), so rebalanced corpora are reproducible and rows
    never flip strata when the corpus grows."""
    # out-of-range fractions are a caller error, not a clamp (round-16
    # review: silently clamping an intended upsample fraction 2.0 to
    # 1.0 hides that epoch repetition is out of scope here)
    for value, frac in fractions.items():
        if not 0.0 <= float(frac) <= 1.0:
            raise ValueError(
                f"stratum {value!r} fraction out of [0, 1]: {frac}"
                " (upsampling belongs at the data-loader layer)"
            )
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError(
            f"default_fraction out of [0, 1]: {default_fraction}"
        )
    bucket = _hex_bucket(key_col, salt)
    strata = F.col(strata_col) if isinstance(strata_col, str) else strata_col
    thr = F.lit(_hex_threshold(default_fraction))
    for value, frac in sorted(fractions.items(), key=lambda kv: str(kv[0])):
        # a None key targets the NULL stratum explicitly: `strata ==
        # lit(None)` is never true under SQL NULL semantics, so without
        # the isNull branch NULL-stratum rows could only ever take the
        # default fraction — fractions={None: 1.0} silently dropped
        # every unknown-language doc (and plan_mixture can legitimately
        # emit a None stratum for apply_mixture to apply)
        cond = strata.isNull() if value is None else strata == F.lit(value)
        thr = F.when(
            cond, F.lit(_hex_threshold(float(frac)))
        ).otherwise(thr)
    return df.filter(bucket < thr)


def plan_mixture(
    df: DataFrame,
    strata_col: str,
    weight_col: str,
    target_weights: dict,
) -> dict:
    """Per-stratum sampling fractions that hit a token (or any
    weight) budget: fraction_s = min(1, target_s / actual_s).

    The pretraining mixture move: 'cap web at 100B tokens, keep code
    whole'. One groupBy over the strata (driver receives #strata rows
    — bounded by construction: strata are sources/languages, not
    keys). Upsampling (fraction > 1, i.e. epoch repetition) is out of
    scope here — this plans the DOWN-sample; repeat epochs at the
    data-loader layer where shuffling between epochs belongs. Strata
    absent from ``target_weights`` get fraction 0.0 (explicit budgets
    only — a silent keep-all would blow the total budget).
    """
    stats = {
        r.s: (r.w, r.n, r.nw)
        for r in df.groupBy(F.col(strata_col).alias("s"))
        .agg(
            F.sum(weight_col).alias("w"),
            F.count(F.lit(1)).alias("n"),
            F.count(weight_col).alias("nw"),  # non-NULL weights
        )
        .collect()
    }
    out = {}
    for stratum, target in target_weights.items():
        w, n, nw = stats.get(stratum, (None, 0, 0))
        # NULL weights UNDERCOUNT the stratum (sum skips them), which
        # would over-keep it past its budget — the round-16 review
        # found the old `or 0` turned an all-NULL stratum into
        # fraction 1.0 (keep whole), bypassing the budget this
        # function exists to enforce. Refuse loudly instead.
        if nw < n:
            raise ValueError(
                f"stratum {stratum!r} has {n - nw} row(s) with a NULL"
                f" {weight_col!r} — NULL weights would bypass the"
                " budget; fill or drop them before plan_mixture"
            )
        a = float(w) if w is not None else 0.0
        if target <= 0:
            out[stratum] = 0.0  # explicit zero budget drops the stratum
        elif a <= target:
            out[stratum] = 1.0
        else:
            out[stratum] = float(target) / a
    return out


def apply_mixture(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    weight_col: str,
    target_weights: dict,
    salt: str = "mix",
) -> DataFrame:
    """plan_mixture + stratified_hash_sample in one call: documents
    are kept with per-stratum probability proportional to the weight
    budget, deterministically by key hash. Because membership is
    doc-level, the realized weight per stratum concentrates around the
    target for any corpus whose per-doc weights are not dominated by a
    few outliers (chunk first if they are)."""
    fractions = plan_mixture(df, strata_col, weight_col, target_weights)
    return stratified_hash_sample(
        df, key_col, strata_col, fractions, default_fraction=0.0, salt=salt
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    n: int,
    salt: str = "",
) -> DataFrame:
    """Keep at most ``n`` rows per group, chosen deterministically by
    key hash (per-domain / per-source caps — the anti-overfitting
    rebalance after blocklist filtering). A single window over
    (group, hash(key)): each group's survivors are a uniform,
    reproducible sample of itself, stable under partitioning; growing
    a group only swaps members across its nth hash boundary. One keyed
    shuffle. SKEW CAVEAT: a group holding a large share of the corpus
    lands on one window task — pre-thin dominant groups first with
    stratified_hash_sample (fraction ~ 10n/|group|) and the window
    then ranks a bounded remnant; membership stays deterministic
    because both stages hash the same key."""
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    # CONTRACT: keys must be unique and non-null for a reproducible
    # choice — identical (or multiple NULL) keys tie on both the hash
    # and the key tiebreak, so which of THOSE rows survive a cap at
    # the boundary is executor-order dependent. The shared sentinel at
    # least pins NULLs to one deterministic hash position.
    okey = _nullsafe_key(key)
    if "__rn" in df.columns:
        # silently clobbering (then dropping) a caller's column loses
        # data: refuse a name collision instead
        raise ValueError(
            "input already has a '__rn' column — rename it before"
            " cap_per_group"
        )
    w = Window.partitionBy(group_col).orderBy(
        F.xxhash64(okey, F.lit(salt)).asc(), key.asc_nulls_last()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def hash_topn_sample(
    df: DataFrame, key_col: str, n: int, salt: str = ""
) -> DataFrame:
    """EXACTLY-n deterministic uniform sample: order by the key hash,
    keep the first n. Unlike fraction sampling this hits a precise
    sample size (eval sets, human-review batches). Plan is
    TakeOrderedAndProject — each partition keeps n candidates, only
    P*n rows reach the driver-side merge, nothing else shuffles. The
    sample is stable under partitioning changes; adding rows to the
    corpus can only swap members whose hashes cross the nth boundary
    (it is a bottom-n-by-hash set, the same property MinHash relies
    on)."""
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    okey = _nullsafe_key(key)
    return df.orderBy(
        F.xxhash64(okey, F.lit(salt)).asc(), key.asc_nulls_last()
    ).limit(n)


def hash_split(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float],
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row a split label by cumulative hash ranges, e.g.
    {'train': 0.8, 'val': 0.1, 'test': 0.1}. Fractions must sum to 1;
    the last split absorbs the hash-range remainder so every row is
    labelled.

    Leakage-safe splits: pass the GROUP key (url domain, author,
    near-dup component id from graph.connected_components) as
    ``key_col`` and every row of a group lands in the same split —
    train/test contamination through near-duplicates is exactly
    splitting on doc id when dup clusters straddle the boundary."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    # per-fraction range check (round-16 review): {'a': 1.1,
    # 'b': -0.1} sums to 1 but silently labels every row 'a'
    for name, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(
                f"split fraction {name!r} out of [0, 1]: {frac}"
            )
    # collision guard: silently reassigning an existing split column
    # would strand downstream consumers on unrecoverable old labels
    if out_col in df.columns:
        raise ValueError(
            f"output column {out_col!r} already exists — drop or"
            " rename it, or pass a different out_col"
        )
    bucket = _hex_bucket(key_col, salt)
    names = list(fractions)
    expr = None
    cum = 0.0
    for name in names[:-1]:
        cum += fractions[name]
        cond = bucket < F.lit(_hex_threshold(cum))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(names[-1])
    return df.withColumn(out_col, expr)
