"""Sequence packing for LLM training pipelines (beyond-reference
scope): assign documents to fixed-token-budget training sequences
("packs") so concatenated samples waste as little context window as
possible.

Exact global bin packing is NP-hard and inherently serial; the
standard distributed practice is bucket-local first-fit-decreasing
(FFD): shard documents into deterministic hash buckets, pack each
bucket independently, and namespace pack ids by bucket. Packing
quality is within a constant of optimal per bucket (FFD <= 11/9 OPT +
6/9 bins) and buckets are embarrassingly parallel, so the operator
scales horizontally: 100 TB of documents is just more buckets.

Only (id, token_count) ride the shuffle and the Python worker — never
text. The output is an assignment table (doc -> pack); callers join it
back to the payload to materialize packed sequences, which keeps this
operator's shuffle narrow no matter how wide the documents are.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# pack_id = bucket * _BUCKET_STRIDE + local bin index; stride leaves
# room for 1e9 bins per bucket (a bucket would need ~1e9 docs to
# overflow — repartition first if so).
_BUCKET_STRIDE = 1_000_000_000


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    max_tokens: int,
    num_buckets: int = 64,
    salt: str = "pack",
) -> DataFrame:
    """FFD-pack documents into sequences of at most ``max_tokens``.

    Returns (``id_col``, ``n_tokens`` long, ``pack_id`` long,
    ``oversize`` boolean). Documents with ``token_col > max_tokens``
    cannot fit any pack; they come back as single-doc packs flagged
    ``oversize=true`` so the caller can chunk (textops.chunk_documents)
    or drop them — silently truncating here would corrupt counts.

    Deterministic: bucket = xxhash64(salt, id) % num_buckets, and each
    bucket packs its docs in (token_count desc, id) order, so the
    assignment is a pure function of the input set — independent of
    input partitioning, task scheduling, or prior transformations.

    CONTRACT: ``id_col`` values must be UNIQUE and NON-NULL. Duplicate
    or NULL ids tie in the packing order (arrival-order resolution —
    reproducibility of which row got which pack is lost), and
    ``materialize_packs`` joins the assignment back to the payload ON
    the id, so NULL-id members silently vanish from the materialized
    sequence. Run exact dedup / assign surrogate ids upstream.
    """
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive, got {max_tokens}")
    # NULL / uncastable / NEGATIVE token counts become 0 (packed like
    # an empty doc): try_cast, because under ANSI mode (this engine's
    # default) a plain cast THROWS on uncastable strings and NaN
    # doubles — the exact dirty inputs this fallback exists for; and
    # greatest(0, ·), because a negative count satisfies `cap >= t`
    # against the -1 oversize sentinel inside the packer and would
    # join (and then grow) an oversize pack
    slim = df.select(
        F.col(id_col),
        F.greatest(
            F.lit(0).cast("long"),
            F.coalesce(F.col(token_col).try_cast("long"), F.lit(0)),
        ).alias("n_tokens"),
        F.pmod(F.xxhash64(F.lit(salt), F.col(id_col)), F.lit(num_buckets))
        .cast("int")
        .alias("__bucket"),
    )

    out_schema = (
        f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
        "n_tokens long, pack_id long, oversize boolean"
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf["__bucket"].iloc[0])
        base = bucket * _BUCKET_STRIDE
        srt = pdf.sort_values(
            ["n_tokens", id_col], ascending=[False, True], kind="mergesort"
        )
        ids = srt[id_col].to_numpy()
        toks = srt["n_tokens"].to_numpy()
        # bins: remaining capacity per open pack. FFD with a simple
        # linear scan — fine because per-bucket doc counts are bounded
        # by the bucket sharding, and toks is sorted so early bins
        # fill and stop matching quickly.
        remaining: list[int] = []
        assign = [0] * len(ids)
        oversize = [False] * len(ids)
        for i, t in enumerate(toks):
            t = int(t)
            if t > max_tokens:
                # dedicated single-doc pack, marked UNUSABLE (-1): a
                # 0 here let zero-token docs pass the cap >= t check
                # and join an oversize pack, breaking the documented
                # single-doc-oversize contract
                remaining.append(-1)
                assign[i] = len(remaining) - 1
                oversize[i] = True
                continue
            for b, cap in enumerate(remaining):
                if cap >= t:
                    remaining[b] = cap - t
                    assign[i] = b
                    break
            else:
                remaining.append(max_tokens - t)
                assign[i] = len(remaining) - 1
        return pd.DataFrame(
            {
                id_col: ids,
                "n_tokens": toks,
                "pack_id": [base + a for a in assign],
                "oversize": oversize,
            }
        )

    from clustering_spark.operators.segmentation import spread_groups

    # buckets are (id, token_count) rows — tiny bytes, FFD-compute-
    # bound: pre-spread so AQE byte-coalescing can't serialize the
    # bucket packing onto one worker (see spread_groups)
    return (
        spread_groups(slim, ["__bucket"])
        .groupBy("__bucket")
        .applyInPandas(_pack, out_schema)
    )


def materialize_packs(
    docs: DataFrame,
    assignment: DataFrame,
    id_col: str,
    text_col: str,
    separator: str = "\x1e",  # ASCII record separator; callers swap in
    # their tokenizer's EOS string
) -> DataFrame:
    """Turn a pack_sequences assignment into actual training
    sequences: one row per pack with the member texts concatenated in
    (n_tokens desc, id) order — the SAME order FFD placed them, so
    materialization is deterministic given the assignment.

    Shape: semi-join payload to assignment (narrow key), ONE keyed
    shuffle of the text to co-locate pack members (inherent — a pack's
    docs must meet somewhere), sort-within-group via the struct trick
    (array_sort on (neg tokens, id, text) structs — no second window
    shuffle). This is the step to run right before the sink; keep
    everything upstream of it working on (id, token) columns only."""
    joined = assignment.join(
        docs.select(F.col(id_col), F.col(text_col)), on=id_col
    )
    member = F.struct(
        (-F.col("n_tokens")).alias("s1"),
        F.col(id_col).alias("s2"),
        F.col(text_col).alias("txt"),
    )
    return (
        joined.groupBy("pack_id")
        .agg(
            F.array_sort(F.collect_list(member)).alias("__m"),
            F.sum("n_tokens").alias("total_tokens"),
            F.count("*").alias("n_docs"),
            F.max(F.col("oversize").cast("int")).cast("boolean").alias("oversize"),
        )
        .select(
            "pack_id",
            "n_docs",
            "total_tokens",
            "oversize",
            # null_replacement '': array_join otherwise SKIPS NULL
            # elements entirely, so a NULL-text member would be counted
            # in n_docs but missing from the sequence — a consumer
            # splitting on the separator would see a count mismatch
            F.array_join(
                F.transform(F.col("__m"), lambda m: m["txt"]), separator, ""
            ).alias("sequence"),
        )
    )


def materialize_id_rows(
    docs: DataFrame,
    assignment: DataFrame,
    id_col: str,
    ids_col: str,
    seq_len: int,
    eos_id: int,
    pad_id: int,
) -> DataFrame:
    """The final mile of the training-data pipeline: turn a
    pack_sequences assignment plus per-doc TOKEN-ID arrays
    (bpe_encode_ids output) into fixed-length training rows —
    one row per pack with:

      * ``input_ids``  array<int>, length EXACTLY ``seq_len``: member
        id arrays in FFD placement order, ``eos_id`` appended after
        every document, ``pad_id`` filling the tail;
      * ``doc_map``    array<int>, same length: which member ordinal
        (0-based, placement order) owns each position — EOS positions
        belong to their document, padding is ``-1``. This is the
        position→document table a blockwise/intra-doc attention mask
        is built from;
      * ``n_docs``, ``n_real_tokens`` (ids + EOS, pre-padding), and
        ``overflow`` — true when ids + EOS marks exceed ``seq_len``
        and the row was TAIL-TRUNCATED. Never silent: budget packs
        with EOS-inclusive counts (n_tokens = len(ids) + 1 per doc and
        max_tokens = seq_len) and overflow stays false.

    Everything is native array HOFs (flatten/transform/slice/repeat) —
    JVM-side, zero Python in the path; the only shuffle is the
    inherent pack-member co-location, same as materialize_packs."""
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    joined = assignment.join(
        docs.select(
            F.col(id_col),
            # NULL ids arrays count as empty docs (EOS only) — the
            # NULL-degrade contract of the text stack; dropping them
            # would break n_docs against the assignment
            F.coalesce(
                F.col(ids_col).cast("array<int>"), F.array().cast("array<int>")
            ).alias("__ids"),
        ),
        on=id_col,
    )
    member = F.struct(
        (-F.col("n_tokens")).alias("s1"),
        F.col(id_col).alias("s2"),
        F.col("__ids").alias("ids"),
    )
    grouped = joined.groupBy("pack_id").agg(
        F.array_sort(F.collect_list(member)).alias("__m"),
        F.count("*").alias("n_docs"),
    )
    with_eos = F.transform(
        F.col("__m"),
        lambda m: F.concat(m["ids"], F.array(F.lit(eos_id).cast("int"))),
    )
    flat = F.flatten(with_eos)
    owner = F.flatten(
        F.transform(
            with_eos,
            lambda arr, i: F.array_repeat(i.cast("int"), F.size(arr)),
        )
    )
    n_real = F.size(flat)
    pad_n = F.greatest(F.lit(0), F.lit(seq_len) - n_real)
    return grouped.select(
        "pack_id",
        "n_docs",
        n_real.alias("n_real_tokens"),
        (n_real > seq_len).alias("overflow"),
        F.concat(
            F.slice(flat, 1, seq_len),
            F.array_repeat(F.lit(pad_id).cast("int"), pad_n),
        ).alias("input_ids"),
        F.concat(
            F.slice(owner, 1, seq_len),
            F.array_repeat(F.lit(-1).cast("int"), pad_n),
        ).alias("doc_map"),
    )


def pack_stats(assignment: DataFrame, max_tokens: int) -> DataFrame:
    """Per-pack summary of a pack_sequences assignment: doc count,
    token total, fill ratio. One narrow groupBy — the monitoring query
    a pipeline runs after packing to watch fill-rate regressions."""
    return (
        assignment.groupBy("pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.max(F.col("oversize").cast("int")).cast("boolean").alias("oversize"),
        )
        .withColumn(
            "fill_ratio",
            F.round(F.col("total_tokens") / F.lit(float(max_tokens)), 6),
        )
    )
