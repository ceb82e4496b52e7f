"""Similarity search over embedding columns (beyond-reference scope).

* brute-force cosine top-k: the baseline — one broadcast of the query
  vector(s), one scan, one top-k. At 100 TB this is scan-bound and
  embarrassingly parallel; Spark's TakeOrderedAndProject keeps only k
  rows per partition.
* batched knn join (query SET × corpus): broadcast the query side,
  per-row top-k via window row_number — queries must be the small side.
* IVF (inverted-file) index: corpus is k-means-partitioned into nlist
  cells (centroids fit on a driver sample — tiny); search probes the
  nprobe closest cells only, turning top-k into a partition-pruned
  scan. The cell assignment is a native argmin expression, and the
  cell id is a physical partition key when the index is persisted
  (``partitionBy("cell")``) — at 100 TB a query touches nprobe/nlist
  of the data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clustering_spark.functions.rounding import (
    np_round_half_up_int,
    spark_round6_exact,
)
from clustering_spark.functions.vector import cosine_similarity
from clustering_spark.operators.clustering import kmeans_fit


def cosine_topk(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    id_col: str,
    k: int = 10,
) -> DataFrame:
    """Top-k rows by cosine similarity to one query vector.

    Corpus rows with NON-FINITE components (NaN/inf) score NULL and
    rank last: Spark orders NaN GREATEST, so an unguarded desc sort
    would put a garbage vector at rank 1, evicting a true neighbor —
    the same failure knn_join guards against (its kernel maps
    non-finite scores to NULL); IVFIndex.search and
    topk_quantized_rerank delegate here, so they inherit the guard.
    A finite cosine is in [-1, 1] (+rounding slack), which is the
    cheapest complete non-finite test — it catches NaN and ±inf in
    one predicate without a second O(dim) scan of the vector."""
    q = F.array(*[F.lit(float(x)) for x in query])
    raw = F.round(
        cosine_similarity(F.col(vec_col).cast("array<double>"), q), 6
    )
    guarded = F.when(raw.between(-1.000001, 1.000001), raw)  # else NULL
    return (
        df.select(F.col(id_col), guarded.alias("cosine"))
        .orderBy(F.col("cosine").desc_nulls_last(), F.col(id_col))
        .limit(k)
    )


# EXACT Spark round(double, 6) emulation — see functions/rounding.py
# for when this variant (vs the float-arithmetic forms) is required
_spark_round6 = spark_round6_exact


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_vec: str,
    corpus_id: str,
    query_vec: str,
    query_id: str,
    k: int = 5,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """For every query row: its k nearest corpus rows by cosine.

    SCALE SHAPE: the relational form (crossJoin + window on query_id)
    shuffles the ENTIRE n×q scored cross product just to rank it. Here
    the query side — small BY CONTRACT — is collected and broadcast; an
    Arrow ``mapInPandas`` kernel scores each corpus batch with one
    numpy GEMM and keeps a bounded per-partition top-k per query, so
    only P×q×k partial rows reach the final window. The corpus is
    scanned once and never shuffled.

    Semantics identical to the relational form for finite vectors:
    rank by ROUNDED (6dp, Spark-exact HALF_UP — see _spark_round6)
    cosine desc then corpus_id; zero-norm AND NULL vectors get NULL
    cosine and rank last (partials include the per-partition smallest
    such ids so tiny-corpus results stay exact). Vectors with
    NON-FINITE components (NaN/inf) also score NULL-and-last — a
    deliberate divergence from the raw relational form, where Spark's
    NaN-greatest ordering would rank garbage vectors FIRST. The kernel keeps RAW scores with
    a 1e-6 margin during the scan and rounds only the bounded
    candidate set at the end, so selection by rounded order is exact
    without rounding whole score matrices.

    The query-side collect is GUARDED: the fetch is limited to
    ``max_query_rows`` + 1 rows and raises if the limit is hit, so a
    caller passing a large frame gets a clear error instead of a driver
    OOM. The bound costs no extra job — the limit rides the same
    collect."""
    from pyspark.sql import Window
    from pyspark.sql import types as T

    spark = corpus.sparkSession
    qpdf = (
        queries.select(F.col(query_id).alias("qid"), F.col(query_vec).alias("qvec"))
        .limit(max_query_rows + 1)
        .toPandas()
    )
    if len(qpdf) > max_query_rows:
        raise ValueError(
            f"knn_join: query side exceeds max_query_rows={max_query_rows}; "
            "it is broadcast to every task and must stay small — raise the "
            "cap explicitly or swap sides / use cosine_topk per query batch"
        )
    out_fields = [
        T.StructField("query_id", queries.schema[query_id].dataType),
        T.StructField("corpus_id", corpus.schema[corpus_id].dataType),
        T.StructField("cosine", T.DoubleType()),
    ]
    out_schema = T.StructType(list(out_fields))
    rank_schema = T.StructType(
        list(out_fields) + [T.StructField("rank", T.IntegerType(), False)]
    )
    if len(qpdf) == 0:
        return spark.createDataFrame([], rank_schema)

    # NULL query vectors behave like zero-norm ones (NULL cosine
    # against everything) instead of crashing the vstack
    qvals = qpdf["qvec"].to_numpy()
    dim = next((len(v) for v in qvals if v is not None), 1)
    qm = np.vstack(
        [np.asarray(v, dtype=np.float64) if v is not None else np.zeros(dim) for v in qvals]
    )
    qnorm = np.linalg.norm(qm, axis=1)
    # non-finite query vectors (NaN/inf components) join the NULL-
    # cosine pool with the zero-norm ones — their "scores" would be
    # NaN everywhere and poison the top-k buffers
    qok = (qnorm > 0.0) & np.isfinite(qnorm)
    qdir = np.where(qok[:, None], qm / np.where(qok, qnorm, 1.0)[:, None], 0.0)
    bc = spark.sparkContext.broadcast((qpdf["qid"].to_numpy(), qdir, qok))
    kk = int(k)

    slim = corpus.select(
        F.col(corpus_id).alias("cid"),
        F.col(corpus_vec).cast("array<double>").alias("cvec"),
    )

    def gen(batches):
        qids_, qdir_, qok_ = bc.value
        nq = len(qids_)
        cur_s = [np.empty(0, np.float64) for _ in range(nq)]
        cur_i = [np.empty(0, np.int64) for _ in range(nq)]
        small_ids = np.empty(0, np.int64)  # smallest ids seen (NULL-rank pool)
        zero_ids = np.empty(0, np.int64)  # smallest zero-norm ids
        for pdf in batches:
            ids_all = pdf["cid"].to_numpy()
            cvals = pdf["cvec"]
            nn = cvals.notna().to_numpy()
            # NULL corpus vectors join the zero-norm NULL-cosine pool
            # (the relational form yields NULL cosine for both)
            null_like = ids_all[~nn]
            ids_nn = ids_all[nn]
            small_ids = np.sort(np.concatenate([small_ids, ids_all]))[:kk]
            if len(ids_nn) == 0:
                zero_ids = np.sort(np.concatenate([zero_ids, null_like]))[:kk]
                continue
            V = np.vstack(cvals[nn].to_numpy()).astype(np.float64)
            vn = np.linalg.norm(V, axis=1)
            # non-finite corpus vectors score NULL and rank last, like
            # zero-norm/NULL ones. DELIBERATE divergence from the raw
            # relational form: Spark's NaN-greatest ordering would rank
            # a garbage vector FIRST in every result — useless answers —
            # and unguarded NaN/inf scores would poison the margin
            # compares and crash the Decimal rounding below.
            nz = (vn > 0.0) & np.isfinite(vn)
            zero_ids = np.sort(
                np.concatenate([zero_ids, null_like, ids_nn[~nz]])
            )[:kk]
            if nz.any():
                # RAW scores; candidates kept with a 1e-6 margin below
                # the kth value — rounding moves a score by < 1e-6, so
                # every row that could enter the rounded top-k survives
                scores = (V[nz] / vn[nz, None]) @ qdir_.T  # (m, nq)
                ids_nz = ids_nn[nz]
                for j in range(nq):
                    if not qok_[j]:
                        continue
                    s = np.concatenate([cur_s[j], scores[:, j]])
                    i = np.concatenate([cur_i[j], ids_nz])
                    order = np.lexsort((i, -s))
                    if len(order) > kk:
                        kth = s[order[kk - 1]]
                        order = order[s[order] >= kth - 1e-6]
                    cur_s[j], cur_i[j] = s[order], i[order]
                    # the 1e-6 margin keeps every tie of the kth score,
                    # so a partition of (near-)identical vectors —
                    # exactly the dedup-pipeline regime — would grow
                    # this buffer to the whole partition. Past a cap,
                    # reduce EXACTLY: round and reselect kk by the
                    # final (rounded desc, id asc) total order — a
                    # valid streaming top-k reduction, and rounding an
                    # already-rounded value is idempotent, so mixing
                    # reduced and raw entries stays correct.
                    if len(cur_s[j]) > kk + 256:
                        rs = np.array(
                            [_spark_round6(v) for v in cur_s[j]]
                        )
                        o2 = np.lexsort((cur_i[j], -rs))[:kk]
                        cur_s[j], cur_i[j] = rs[o2], cur_i[j][o2]
        rows_q, rows_c, rows_s = [], [], []
        for j in range(nq):
            if qok_[j]:
                # round the BOUNDED candidate set Spark-exactly, then
                # reselect the kk best by (rounded desc, id asc) — the
                # same total order the final window applies
                rs = np.array([_spark_round6(v) for v in cur_s[j]])
                order = np.lexsort((cur_i[j], -rs))[:kk]
                sel_s, sel_i = rs[order], cur_i[j][order]
                rows_q.extend([qids_[j]] * (len(sel_i) + len(zero_ids)))
                rows_c.extend(sel_i.tolist() + zero_ids.tolist())
                rows_s.extend(sel_s.tolist() + [None] * len(zero_ids))
            else:
                # zero-norm/NULL QUERY: cosine NULL against every row
                rows_q.extend([qids_[j]] * len(small_ids))
                rows_c.extend(small_ids.tolist())
                rows_s.extend([None] * len(small_ids))
        if rows_q:
            yield pd.DataFrame(
                {"query_id": rows_q, "corpus_id": rows_c, "cosine": rows_s}
            )

    partials = slim.mapInPandas(gen, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id")
    )
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def quantize_embeddings(
    df: DataFrame, vec_col: str, out_col: str = "qvec"
) -> DataFrame:
    """Direction-preserving int8 quantization: q = round(127 * v/||v||)
    per vector, stored as ``array<tinyint>``.

    Cosine only needs the direction, so normalizing before quantizing
    folds the scale factor away — no per-row scale column to carry, and
    approximate cosine between two quantized vectors is just their
    int-dot over their int-norms. The payload drops 4x (float32) to 8x
    (float64) — at 100 TB that is the difference between shuffling
    25 TB and 3 TB of vectors through every ANN stage, and the scan
    side of brute-force search becomes int8-wide.

    Pure native expressions (two O(dim) HOF aggregates per row), so
    quantization runs at scan speed; zero vectors quantize to all-zero
    (callers' NULL/zero-norm handling is unchanged).

    The norm is STAGED as a named column before the transform: a
    norm EXPRESSION inside the per-element lambda would re-run the
    O(dim) aggregate per element (O(dim²)/row — subexpression
    elimination does not reach inside HOF lambdas; same pattern as
    textnorm.repetition_signals)."""
    v = F.col(vec_col).cast("array<double>")
    staged = df.withColumn(
        "__qn", F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    )
    norm = F.col("__qn")
    qv = F.transform(
        v,
        lambda x: F.round(x * 127.0 / norm).cast("tinyint"),
    )
    zero = F.transform(v, lambda x: F.lit(0).cast("tinyint"))
    return staged.withColumn(
        out_col, F.when(norm > 0.0, qv).otherwise(zero)
    ).drop("__qn")


def topk_quantized_rerank(
    df: DataFrame,
    vec_col: str,
    qvec_col: str,
    query: list[float],
    id_col: str,
    k: int = 10,
    rerank_factor: int = 4,
) -> DataFrame:
    """Two-stage top-k: score the int8 column with an Arrow-batched
    integer GEMV, keep k*rerank_factor candidates, then rerank exactly
    on the float column. The wide float vectors are touched only for
    the tiny candidate set (semi-join back to the corpus), so the scan
    is int8-wide and the result ties out to exact cosine for any
    candidate set that covers the true top-k — the standard
    quantize-then-rerank ANN recipe (e.g. FAISS SQ8).

    Output schema matches cosine_topk (id, cosine) so callers can swap
    the exact scan for this without downstream changes."""
    qv = np.asarray(query, dtype=np.float64)
    qn = float(np.linalg.norm(qv))
    if qn == 0.0:
        raise ValueError("topk_quantized_rerank: zero-norm query")
    # HALF_UP like the corpus side's F.round (quantize_embeddings):
    # np.round is banker's half-even, so a component on an exact .5
    # boundary would quantize differently in query vs corpus and bias
    # approximate scores near the k*rerank_factor cut
    qq = np_round_half_up_int(qv * 127.0 / qn).astype(np.int32)
    qqn = float(np.linalg.norm(qq))

    @F.pandas_udf("double")
    def approx_cos(col: pd.Series) -> pd.Series:
        vals = col.to_numpy()
        nn = col.notna().to_numpy()
        out = np.full(len(vals), np.nan)
        if nn.any():
            Q = np.vstack(vals[nn]).astype(np.int32)
            dots = Q @ qq
            norms = np.sqrt(
                (Q * Q).sum(axis=1, dtype=np.int64).astype(np.float64)
            )
            with np.errstate(divide="ignore", invalid="ignore"):
                s = dots / (norms * qqn)
            out[nn] = np.where(norms > 0, s, np.nan)
        return pd.Series(out)

    # NULL qvec rows (quantize_embeddings preserves NULL input vectors)
    # score NaN -> Arrow NULL -> desc_nulls_last, so they can only
    # enter the candidate set when fewer than k*rerank_factor real
    # rows exist — the exact rerank then drops them (NULL float vec).
    cands = (
        df.select(F.col(id_col), approx_cos(F.col(qvec_col)).alias("__acos"))
        .orderBy(F.col("__acos").desc_nulls_last(), F.col(id_col))
        .limit(k * rerank_factor)
        .select(id_col)
    )
    return cosine_topk(
        df.join(cands, on=id_col, how="left_semi"), vec_col, query, id_col, k
    )


class IVFIndex:
    """Inverted-file ANN index: nlist k-means cells over a sample,
    cell-pruned search.

    Centroids are fit driver-side on a bounded sample (numpy — the
    centroid table is nlist×dim, trivially broadcastable); the corpus
    gets a ``cell`` column via a native argmin-over-centroids
    expression. ``search`` probes the nprobe nearest cells.
    """

    def __init__(self, nlist: int = 16, seed: int = 42, sample_rows: int = 100_000):
        self.nlist = nlist
        self.seed = seed
        self.sample_rows = sample_rows
        self.centroids: np.ndarray | None = None

    def fit(self, corpus: DataFrame, vec_col: str) -> "IVFIndex":
        # bottom-n-by-hash sample, NOT limit(): limit takes the first
        # rows in scan order, so a corpus laid out by source/date would
        # fit centroids to one source and collapse everything else into
        # a few cells. Hashing the vector itself is deterministic
        # (reproducible centroids) and order-independent; the plan is
        # TakeOrdered — per-partition top-n, no full sort. NULL vectors
        # are excluded (they cannot be assigned a cell either).
        sample = (
            corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
            .filter(F.col("v").isNotNull())
            .orderBy(F.xxhash64(F.col("v")).asc())
            .limit(self.sample_rows)
            .toPandas()["v"]
        )
        X = np.vstack(sample.to_numpy())
        # L2-normalize so euclidean cells approximate cosine cells
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        _, centers, _ = kmeans_fit(X, min(self.nlist, len(X)), self.seed)
        self.centroids = centers
        return self

    def _cell_expr(self, vec_col: str):
        """argmin over centroids of squared distance, as an
        Arrow-batched GEMM kernel (X·Cᵀ argmin per batch).

        This REPLACED a 'native' higher-order-function expression
        (array of nlist aggregate-over-zip_with distances +
        array_position of the min): nlist × dim interpreted lambda
        evaluations per row measured ~9 s for 2,000 rows × 16 × 64 at
        sf0.1 — three orders of magnitude behind the vectorized batch
        kernel (<10 ms compute). HOFs stay the right call for ONE
        aggregate per row (see cosine_similarity); at nlist×dim per
        row the Arrow transfer is noise and numpy wins. Ties break to
        the lowest cell index in both forms (np.argmin = first min)."""
        import pandas as pd

        centers = self.centroids

        @F.pandas_udf("int")
        def cell_of(v: pd.Series) -> pd.Series:
            # NULL vectors get a NULL cell (they cannot be assigned —
            # fit() already excludes them); an unmasked np.vstack over
            # a batch containing None crashes the whole job
            vals = v.to_numpy()
            nn = v.notna().to_numpy()
            out = pd.array([None] * len(vals), dtype="Int32")
            if nn.any():
                X = np.vstack(vals[nn]).astype(np.float64)
                X = X / np.maximum(
                    np.linalg.norm(X, axis=1, keepdims=True), 1e-12
                )
                # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² is constant
                # per row, so argmin needs only the cross/center terms
                d2 = (centers**2).sum(axis=1)[None, :] - 2.0 * (X @ centers.T)
                out[nn] = d2.argmin(axis=1).astype("int32")
            return pd.Series(out, dtype="Int32")

        return cell_of(F.col(vec_col).cast("array<double>"))

    def transform(self, corpus: DataFrame, vec_col: str) -> DataFrame:
        """Append the ``cell`` assignment column. Persist with
        ``.write.partitionBy('cell')`` to get physical pruning."""
        assert self.centroids is not None, "fit first"
        return corpus.withColumn("cell", self._cell_expr(vec_col))

    def search(
        self,
        indexed: DataFrame,
        vec_col: str,
        id_col: str,
        query: list[float],
        k: int = 10,
        nprobe: int = 4,
        qvec_col: str | None = None,
        rerank_factor: int = 4,
    ) -> DataFrame:
        """Top-k by cosine among the nprobe cells nearest the query.

        With ``qvec_col`` (an int8 column from quantize_embeddings) the
        probed subset is scored IVF-SQ8 style: integer GEMV over the
        quantized column, exact rerank on the float column — composing
        the two scale levers (partition pruning cuts the scan to
        nprobe/nlist of the corpus, quantization cuts the bytes of
        what remains by 4-8x)."""
        assert self.centroids is not None, "fit first"
        qv = np.asarray(query, dtype=np.float64)
        qn = qv / max(np.linalg.norm(qv), 1e-12)
        d2 = ((self.centroids - qn) ** 2).sum(axis=1)
        probe_cells = [int(c) for c in np.argsort(d2)[:nprobe]]
        probed = indexed.filter(F.col("cell").isin(probe_cells))
        if qvec_col is not None:
            return topk_quantized_rerank(
                probed, vec_col, qvec_col, query, id_col, k, rerank_factor
            )
        # the exact branch IS cosine_topk over the probed subset —
        # delegate so NULL/rounding semantics can never diverge
        return cosine_topk(probed, vec_col, query, id_col, k)


def embedding_contamination(
    corpus: DataFrame,
    eval_set: DataFrame,
    corpus_vec: str,
    corpus_id: str,
    eval_vec: str,
    eval_id: str,
    threshold: float = 0.95,
    k: int = 5,
    max_eval_rows: int = 100_000,
) -> DataFrame:
    """Embedding-space eval contamination: (eval row, train row,
    cosine) for every training doc within ``threshold`` cosine of an
    eval doc. The semantic complement of dedup.contamination_pairs —
    n-gram overlap misses paraphrases; embedding proximity catches
    them (and is exactly the near-dup notion embedding_neardup_pairs
    uses WITHIN the corpus, applied ACROSS train/eval).

    Composition: knn_join (eval side broadcast — an eval benchmark is
    small by contract, and the guard raises past ``max_eval_rows``;
    train corpus scanned once, never shuffled) then a threshold
    filter. k bounds matches per eval row; raise it if a benchmark
    doc can plausibly have more than k near-copies in training data.
    Returns (eval_id, train_id, cosine, rank) ordered within each
    eval doc by similarity.
    """
    nn = knn_join(
        corpus,
        eval_set,
        corpus_vec,
        corpus_id,
        eval_vec,
        eval_id,
        k=k,
        max_query_rows=max_eval_rows,
    )
    return nn.filter(F.col("cosine") >= float(threshold)).select(
        F.col("query_id").alias("eval_id"),
        F.col("corpus_id").alias("train_id"),
        "cosine",
        "rank",
    )
