"""End-to-end training-data preparation: the composition layer that
chains the engine's LLM-pipeline operators in their canonical order.

    raw documents
      -> normalize + redact PII              (textnorm, scan-speed)
      -> quality + repetition gate           (textops/textnorm filters)
      -> exact in-batch dedup                (dedup.exact_dedup key)
      -> novelty vs existing corpus          (dedup.novel_exact/minhash)
      -> near-dup collapse                   (minhash LSH + CC survivor)
      -> leakage-safe train/val/test split   (sampling.hash_split on the
                                              near-dup COMPONENT id)
      -> context chunking + sequence packing (textops.chunk_documents,
                                              packing.pack_sequences)

Each stage is the already-tested operator; this module only wires
them, so the 100 TB story is the sum of the per-operator shapes
documented in PERFORMANCE.md — nothing here adds a shuffle, collect,
or UDF of its own. Stages toggle off independently (corpus=None skips
novelty; thresholds=None skips the gate) so callers can run partial
pipelines without forking the composition.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clustering_spark.operators import dedup, packing, sampling, textnorm, textops
from clustering_spark.operators.graph import connected_components


@dataclass
class QualityThresholds:
    """Gate policy (Rae et al. 2021-flavored defaults, deliberately
    loose — tighten per corpus)."""

    min_quality_score: float = 0.25
    max_dup_line_ratio: float = 0.5
    max_rep_2gram_ratio: float = 0.6
    max_top_token_ratio: float = 0.5
    min_tokens: int = 5


@dataclass
class PrepConfig:
    id_col: str = "doc_id"
    text_col: str = "text"
    # text_col holds raw HTML: run textnorm.strip_html first, so the
    # line-level stages (boilerplate, dup_line_ratio) see extracted
    # prose with block structure as newlines
    html: bool = False
    thresholds: QualityThresholds | None = field(default_factory=QualityThresholds)
    redact: bool = True
    # group column for per-site boilerplate stripping (None = skip)
    boilerplate_group_col: str | None = None
    boilerplate_min_docs: int = 5
    boilerplate_max_doc_frac: float = 0.5
    jaccard_threshold: float = 0.8
    shingle_words: int = 3
    split_fractions: dict = field(
        default_factory=lambda: {"train": 0.9, "val": 0.05, "test": 0.05}
    )
    chunk_size: int = 2000
    chunk_stride: int = 1800
    pack_max_tokens: int = 2048
    # oversize survivors (token count > pack_max_tokens) come back from
    # pack_sequences as single-doc packs flagged oversize=true, and the
    # flag rides through to `packs` AND `sequences`. True drops them
    # BEFORE packing instead (their context-window pieces remain
    # available in `chunks`); False keeps the flagged sequences for the
    # caller to route.
    drop_oversize: bool = False
    seed: int = 42
    # cross-doc repeated-passage gate (dedup.passage_dup_stats): drop
    # near-dup SURVIVORS whose shared-chunk fraction still exceeds
    # this — docs that are distinct pages but mostly boilerplate/
    # copied passages. None = stage off (no extra jobs).
    max_shared_chunk_frac: float | None = None
    # exported BPE model (operators/bpe.train_bpe): when set, the
    # packing budget counts LEARNED-vocabulary tokens (bpe_token_count)
    # instead of the heuristic whitespace count — the budget the
    # training run actually consumes. Costs one Arrow tokenize pass
    # over the survivors.
    bpe_model: dict | None = None
    # emit fixed-seq_len TOKEN-ID training rows (`id_rows` output via
    # packing.materialize_id_rows). Requires bpe_model. Opt-in because
    # it changes the packing budget to EOS-INCLUSIVE counts
    # (size(ids) + 1 per doc with seq_len = pack_max_tokens — the
    # budget that makes overflow impossible by construction) and pays
    # one id-encoding pass instead of the count-only pass. eos_id /
    # pad_id default to the RESERVED specials (<eos>/<pad> ids from
    # build_vocab(model, (UNK, PAD, EOS))) — an explicit override
    # picked from the real vocabulary range would silently collide
    # with a legitimate token, so only override with ids you reserved.
    emit_id_rows: bool = False
    eos_id: int | None = None
    pad_id: int | None = None


def quality_gate(df: DataFrame, cfg: PrepConfig) -> DataFrame:
    """Score + filter. Keeps the signal columns on the output so the
    kept/dropped decision is auditable downstream."""
    t = cfg.thresholds
    scored = textnorm.repetition_signals(
        textops.quality_features(df, cfg.text_col), cfg.text_col
    )
    if t is None:
        return scored
    return scored.filter(
        (F.col("quality_score") >= t.min_quality_score)
        & (F.col("dup_line_ratio") <= t.max_dup_line_ratio)
        & (F.col("rep_2gram_ratio") <= t.max_rep_2gram_ratio)
        & (F.col("top_token_ratio") <= t.max_top_token_ratio)
        & (F.col("n_tokens") >= t.min_tokens)
    )


def prepare_corpus(
    df: DataFrame,
    cfg: PrepConfig | None = None,
    corpus: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Run the full prep chain. Returns the named intermediate frames.
    The near-dup connected-components stage executes EAGERLY at call
    time (iterative CC must run to a fixpoint to label survivors —
    graph.connected_components checkpoints and counts per round); the
    returned frames themselves are lazy past that point, so callers
    pay the CC cost once at call time and then materialize only the
    frames they need:

    - ``clean``      normalized/redacted docs + quality columns (gated)
    - ``unique``     exact + near-dup survivors, novelty-filtered,
                     with ``component`` (near-dup cluster id)
    - ``split``      ``unique`` + leakage-safe ``split`` label keyed on
                     the near-dup component, so near-identical docs can
                     never straddle train/test
    - ``chunks``     context-window chunks of the survivors
    - ``packs``      doc -> pack assignment at ``pack_max_tokens``,
                     packed WITHIN each split (keyed by
                     ``(split, pack_id)``)
    - ``sequences``  one row per pack: members concatenated in FFD
                     placement order, with its ``split`` label (the
                     sink-ready training data)

    Packing runs PER SPLIT: a pack is one training sequence, so its
    members must never straddle train/val/test — concatenating a test
    doc into a training sequence is leakage no post-hoc label can
    undo. ``pack_id`` is only unique within a split (each split packs
    independently with its own salt); key on ``(split, pack_id)``.

    CONTRACT: ``cfg.id_col`` values must be UNIQUE and NON-NULL (the
    pack_sequences rule — the id is the join identity
    for every splice in the chain). NULL-id docs are DROPPED at the
    exact-dedup splice (a NULL id can never match the min-id survivor
    set); duplicate ids would collapse to one survivor per near-dup
    component rather than flow through as distinct docs. Assign
    surrogate ids upstream if the raw corpus lacks them.

    Sequences whose single member exceeds ``pack_max_tokens`` carry
    ``oversize=true`` (see ``PrepConfig.drop_oversize`` to exclude
    them before packing; their pieces are in ``chunks`` either way).
    """
    cfg = cfg or PrepConfig()
    id_c, text_c = cfg.id_col, cfg.text_col

    # reserved output/scratch names (round-16 review): silently
    # clobbering a caller's column — or an AMBIGUOUS_REFERENCE crash
    # three joins later — is worse than refusing up front
    reserved = {"component", "__rn", "__cc_comp", "__keep"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"input columns {sorted(clash)} collide with prepare_corpus"
            " internals — rename them first"
        )

    # -1. HTML -> text extraction when the input is raw markup: must
    #     precede every line-level stage (scan-speed native regexp)
    if cfg.html:
        df = df.withColumn(text_c, textnorm.strip_html(text_c))

    # 0. per-group boilerplate stripping FIRST (normalization collapses
    #    the newlines the line-level pass needs)
    if cfg.boilerplate_group_col is not None:
        df = textnorm.strip_boilerplate(
            df,
            id_c,
            text_c,
            cfg.boilerplate_group_col,
            min_docs=cfg.boilerplate_min_docs,
            max_doc_frac=cfg.boilerplate_max_doc_frac,
            out_col=text_c,
        )

    # 1. gate on quality FIRST, over the pre-collapse text: the
    #    line-level repetition signal (dup_line_ratio) needs the REAL
    #    newlines that normalize_text collapses — gating after
    #    normalization made dup_line_ratio identically 0, so the
    #    repeated-boilerplate-line gate never fired (round-16 review;
    #    token counts and ratio signals are whitespace-collapse-
    #    invariant, so only the line signal cared about the order).
    #    The signal columns on `clean` therefore describe the raw
    #    text; the text column itself is normalized (+ redacted)
    #    after the gate.
    gated = quality_gate(df, cfg)
    clean = gated.withColumn(text_c, textnorm.normalize_text(text_c))
    if cfg.redact:
        clean = textnorm.redact_pii(clean, text_c, out_col=text_c)

    # 2. exact in-batch dedup (min-id survivor)
    exact_keep = dedup.exact_dedup(clean, [text_c], id_c).select(
        F.col(id_c).alias("__keep")
    )
    deduped = clean.join(
        exact_keep, on=clean[id_c] == F.col("__keep"), how="left_semi"
    )

    # 3. novelty vs the existing corpus (skip when corpus is None)
    if corpus is not None:
        deduped = dedup.novel_exact(deduped, corpus, id_c, text_c)
        deduped = dedup.novel_minhash(
            deduped,
            corpus,
            id_c,
            text_c,
            shingle_words=cfg.shingle_words,
            jaccard_threshold=cfg.jaccard_threshold,
            seed=cfg.seed,
        )

    # 4. in-batch near-dup collapse: LSH pairs -> connected components
    #    -> min-id survivor per component. Docs with no near-dup are
    #    their own component (component = own id).
    pairs = dedup.minhash_lsh_pairs(
        deduped,
        id_c,
        text_c,
        shingle_words=cfg.shingle_words,
        jaccard_threshold=cfg.jaccard_threshold,
        seed=cfg.seed,
    )
    comp = (
        connected_components(pairs)  # (node, comp)
        .withColumnRenamed("node", id_c)
        # internal label name, guarded at entry: a bare 'comp' here
        # threw AMBIGUOUS_REFERENCE when the input carried its own
        # 'comp' column (round-16 review)
        .withColumnRenamed("comp", "__cc_comp")
    )
    with_comp = (
        deduped.join(comp, on=id_c, how="left")
        .withColumn("component", F.coalesce("__cc_comp", F.col(id_c)))
        .drop("__cc_comp")
    )
    # row_number, not an id == min(id) filter: under a violated
    # unique-id contract the equality filter keeps EVERY row tied at
    # the component minimum — duplicated training data the dedup stage
    # claims to have collapsed (the same defect fixed in
    # graph.dedup_by_component)
    unique = (
        with_comp.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("component").orderBy(
                    F.col(id_c).asc_nulls_last()
                )
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    # 4b. optional repeated-passage gate AFTER the near-dup collapse:
    #     near-dup handles whole-document similarity; this drops
    #     survivors that are still mostly passages shared with OTHER
    #     surviving docs (chunk-hash shuffles only — dedup.
    #     passage_dup_stats). Running it post-collapse keeps dup
    #     clusters from inflating each other's shared fractions.
    if cfg.max_shared_chunk_frac is not None:
        frac = dedup.passage_dup_stats(
            unique,
            id_c,
            text_c,
            size=cfg.chunk_size,
            stride=cfg.chunk_stride,
        ).select(id_c, "shared_chunk_frac")
        unique = (
            unique.join(frac, on=id_c, how="left")
            .filter(
                F.coalesce(F.col("shared_chunk_frac"), F.lit(0.0))
                <= cfg.max_shared_chunk_frac
            )
            .drop("shared_chunk_frac")
        )

    # stage the survivor table ONCE: split, chunks, packs and the
    # pack-materialization join all read `unique`, and without the
    # stage each consumer re-runs the whole normalize→gate→dedup
    # survivor subtree. Measured at 50k docs: total chain wall-clock
    # is unchanged for a single-output run (the eager connected-
    # components iteration dominates), but each ADDITIONAL output a
    # caller materializes drops from ~16 s of recompute to <1 s of
    # checkpoint reads. At fact scale the production move is writing
    # the survivors to parquet and reading back; the lazy
    # localCheckpoint gives the same single-evaluation shape while
    # keeping this API lazy.
    unique = unique.localCheckpoint(eager=False)

    # 5. leakage-safe split on the COMPONENT id
    split = sampling.hash_split(
        unique, "component", cfg.split_fractions, salt="prep"
    )

    # 6. chunk the survivors (per-doc, split-agnostic: consumers join
    #    the split label back by id), then pack WITHIN each split
    chunks = textops.chunk_documents(
        unique, id_c, text_c, size=cfg.chunk_size, stride=cfg.chunk_stride
    )
    # quality_gate already computed n_tokens on the FINAL text (no
    # stage after it rewrites text_c), so reuse it instead of paying a
    # second strip+split scan over every survivor; a configured BPE
    # model overrides both — the pack budget should count the tokens
    # the training run actually consumes
    if cfg.emit_id_rows and cfg.bpe_model is None:
        raise ValueError("emit_id_rows requires a bpe_model")
    if cfg.emit_id_rows:
        from clustering_spark.operators.bpe import (
            EOS,
            PAD,
            UNK,
            bpe_encode_ids,
            build_vocab,
        )

        # one id-encoding pass with PAD/EOS reserved OUT of the real
        # id range (a vocabulary-range eos would silently collide with
        # a legitimate token); the budget is EOS-INCLUSIVE so
        # materialize_id_rows can never overflow by construction
        specials = (UNK, PAD, EOS)
        vocab = build_vocab(cfg.bpe_model, specials)
        eos_id = cfg.eos_id if cfg.eos_id is not None else vocab[EOS]
        pad_id = cfg.pad_id if cfg.pad_id is not None else vocab[PAD]
        with_tok = bpe_encode_ids(
            split, text_c, cfg.bpe_model, out_col="__bpe_ids",
            specials=specials,
        ).withColumn("__ntok", F.size("__bpe_ids") + F.lit(1))
        tok_c = "__ntok"
    elif cfg.bpe_model is not None:
        from clustering_spark.operators.bpe import bpe_token_count

        with_tok = bpe_token_count(
            split, text_c, cfg.bpe_model, out_col="__ntok"
        )
        tok_c = "__ntok"
    elif "n_tokens" in split.columns:
        with_tok, tok_c = split, "n_tokens"
    else:
        with_tok = split.withColumn("__ntok", textops.token_count(text_c))
        tok_c = "__ntok"
    packs_parts, seq_parts, idrow_parts = [], [], []
    for label in cfg.split_fractions:
        part = with_tok.filter(F.col("split") == label)
        if cfg.drop_oversize:
            part = part.filter(F.col(tok_c) <= cfg.pack_max_tokens)
        p = packing.pack_sequences(
            part, id_c, tok_c, cfg.pack_max_tokens, salt=f"pack:{label}"
        )
        packs_parts.append(p.withColumn("split", F.lit(label)))
        seq_parts.append(
            packing.materialize_packs(part, p, id_c, text_c).withColumn(
                "split", F.lit(label)
            )
        )
        if cfg.emit_id_rows:
            idrow_parts.append(
                packing.materialize_id_rows(
                    part,
                    p,
                    id_c,
                    "__bpe_ids",
                    seq_len=cfg.pack_max_tokens,
                    eos_id=eos_id,
                    pad_id=pad_id,
                ).withColumn("split", F.lit(label))
            )
    packs = reduce(DataFrame.unionByName, packs_parts)
    sequences = reduce(DataFrame.unionByName, seq_parts)

    out = {
        "clean": clean,
        "unique": unique,
        "split": split,
        "chunks": chunks,
        "packs": packs,
        "sequences": sequences,
    }
    if cfg.emit_id_rows:
        out["id_rows"] = reduce(DataFrame.unionByName, idrow_parts)
    return out


def media_survivors(
    df: DataFrame,
    bin_col: str,
    id_col: str,
    image_max_hamming: int = 3,
    audio_max_hamming: int = 6,
) -> DataFrame:
    """Near-duplicate MEDIA collapse — the multimodal twin of
    prepare_corpus's text near-dup stage, same component -> keep
    shape (operators/graph.py): perceptual signatures (image dHash /
    audio fingerprint, each an 8-byte value — blobs never leave their
    scan) -> the shared pigeonhole hamming pair search -> connected
    components over the UNION of image and audio edges -> ONE
    survivor per component (the minimum id present; graph.
    dedup_by_component's row_number rule). Blobs that produce no
    signature (text, video, unknown, corrupt) are provably not
    near-dups of anything here and survive unconditionally.

    The two modalities share one component pass but can never link:
    a blob yields a dHash or a fingerprint, not both, so image and
    audio edges touch disjoint id sets. Returns ``df``'s survivors
    with a ``component`` column (singletons label themselves).

    Scale shape: adds exactly the signature scans plus the slim
    (id, 8-byte sig) pair exchanges and the (long, long) component
    rounds — no new full-width shuffle of the media frame."""
    from clustering_spark.operators import multimodal as mm
    from clustering_spark.operators.graph import dedup_by_component

    img = mm.image_neardup_pairs(
        df, bin_col, id_col, max_hamming=image_max_hamming
    ).select("id_a", "id_b")
    aud = mm.audio_neardup_pairs(
        df, bin_col, id_col, max_hamming=audio_max_hamming
    ).select("id_a", "id_b")
    comp = connected_components(img.unionByName(aud))
    # ONE labelling join: keep_label returns the survivors with their
    # component straight from the dedup pass (round-16 review: the
    # old dedup-then-re-assign shape joined the components frame
    # against the media frame twice)
    return dedup_by_component(df, id_col, comp, keep_label="component")
