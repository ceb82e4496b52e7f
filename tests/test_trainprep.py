"""End-to-end training-data prep composition: planted fixture walks
every stage (gate, exact dedup, novelty, near-dup collapse,
leakage-safe split, chunking, packing) and checks the cross-stage
invariants no single-operator test can see.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clustering_spark import trainprep
from clustering_spark.trainprep import PrepConfig, QualityThresholds

GOOD_A = (
    "The quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm windowsill in the afternoon sun with great interest."
)
GOOD_A_NEAR = (
    "The quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm windowsill in the evening sun with great interest."
)
GOOD_B = (
    "Streaming watermarks bound the state a window aggregation keeps "
    "so that late events older than the threshold can be dropped safely."
)
JUNK_REPEAT = "spam spam spam spam spam spam spam spam spam spam spam spam"
PII_DOC = (
    "Contact the author at jane.doe@example.com for the dataset and "
    "cite the archive when you publish results based on these files."
)


@pytest.fixture(scope="module")
def prepped(spark):
    df = spark.createDataFrame(
        [
            (1, GOOD_A),
            (2, GOOD_A),          # exact dup of 1
            (3, GOOD_A_NEAR),     # near dup of 1
            (4, GOOD_B),
            (5, JUNK_REPEAT),     # killed by top_token_ratio
            (6, PII_DOC),
        ],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame([(100, GOOD_B)], "doc_id long, text string")
    cfg = PrepConfig(
        thresholds=QualityThresholds(min_quality_score=0.0),
        jaccard_threshold=0.5,
        shingle_words=2,
        chunk_size=60,
        chunk_stride=50,
        pack_max_tokens=40,
    )
    out = trainprep.prepare_corpus(df, cfg, corpus=corpus)
    return {k: v.cache() for k, v in out.items()}


def test_gate_drops_repetitive_doc(prepped):
    ids = {r.doc_id for r in prepped["clean"].select("doc_id").collect()}
    assert 5 not in ids
    assert {1, 2, 3, 4, 6} <= ids


def test_dedup_novelty_and_collapse(prepped):
    ids = {r.doc_id for r in prepped["unique"].select("doc_id").collect()}
    # 2 (exact dup) collapses into 1; 3 (near dup) collapses into 1;
    # 4 is dropped by novelty vs the corpus; 6 survives
    assert ids == {1, 6}


def test_pii_redacted_in_survivors(prepped):
    texts = {r.doc_id: r.text for r in prepped["unique"].collect()}
    assert "<EMAIL>" in texts[6]
    assert "jane.doe@example.com" not in texts[6]


def test_split_labels_every_survivor(prepped):
    rows = prepped["split"].select("doc_id", "split").collect()
    assert len(rows) == 2
    assert all(r.split in ("train", "val", "test") for r in rows)


def test_chunks_cover_survivors_only(prepped):
    chunk_ids = {r.doc_id for r in prepped["chunks"].select("doc_id").collect()}
    assert chunk_ids == {1, 6}
    # stride 50 < size 60 -> overlapping chunks, more chunks than docs
    assert prepped["chunks"].count() > 2


def test_packs_assign_each_survivor_once(prepped):
    rows = prepped["packs"].collect()
    assert sorted(r.doc_id for r in rows) == [1, 6]
    assert all(not r.oversize for r in rows)


def test_no_corpus_skips_novelty(spark):
    df = spark.createDataFrame(
        [(1, GOOD_A), (2, GOOD_B)], "doc_id long, text string"
    )
    cfg = PrepConfig(
        thresholds=None, jaccard_threshold=0.5, shingle_words=2
    )
    out = trainprep.prepare_corpus(df, cfg, corpus=None)
    assert {r.doc_id for r in out["unique"].select("doc_id").collect()} == {1, 2}


def test_boilerplate_stage_in_pipeline(spark):
    footer = "all rights reserved by the example corporation site"
    rows = [
        (i, "siteA", f"document body number {i} with plenty of unique words\n{footer}")
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    cfg = PrepConfig(
        thresholds=None,
        jaccard_threshold=0.9,
        shingle_words=2,
        boilerplate_group_col="source",
        boilerplate_min_docs=5,
        boilerplate_max_doc_frac=0.5,
    )
    out = trainprep.prepare_corpus(df, cfg)
    texts = [r.text for r in out["clean"].collect()]
    assert texts and all(footer not in t for t in texts)
    # without the footer the docs are genuinely distinct -> all survive
    assert out["unique"].count() == 8


def test_sequences_cover_survivors(prepped):
    seqs = prepped["sequences"].collect()
    assert sum(r.n_docs for r in seqs) == 2  # both survivors packed
    joined = "\x1e".join(r.sequence for r in seqs)
    assert "<EMAIL>" in joined  # redacted text flows to the sink


def test_split_corpus_partitioned_write(spark, prepped, tmp_path):
    """Integration: the split output lands as hive-partitioned parquet
    (the sink shape: downstream training jobs read ONLY their split's
    directory)."""
    import os

    out_dir = str(tmp_path / "corpus")
    prepped["split"].write.partitionBy("split").parquet(out_dir)
    dirs = {d for d in os.listdir(out_dir) if d.startswith("split=")}
    assert dirs  # at least one split materialized
    back = spark.read.parquet(out_dir)
    assert back.count() == prepped["split"].count()
    assert set(back.select("split").distinct().toPandas()["split"]) == {
        d.split("=")[1] for d in dirs
    }


def test_passage_gate_drops_boilerplate_heavy_survivor(spark):
    """Two distinct pages sharing their (chunk-aligned) body except a
    short unique tail: near-dup collapse keeps both when jaccard is
    strict, but the passage gate drops both (each is mostly shared
    passages); a fully unique doc survives."""
    shared = ("Legal disclaimer boilerplate common to every page. " * 5)[:200]
    docs = spark.createDataFrame(
        [
            (1, shared + shared + "unique alpha tail one two three"),
            (2, shared + shared + "different beta ending four five six"),
            (3, "entirely original content " * 12),
        ],
        "doc_id long, text string",
    )
    cfg = PrepConfig(
        thresholds=None,
        redact=False,
        jaccard_threshold=0.95,  # strict: docs 1/2 NOT near-dups
        chunk_size=200,
        chunk_stride=200,
        pack_max_tokens=4096,
        max_shared_chunk_frac=0.5,
    )
    kept = {
        r.doc_id
        for r in trainprep.prepare_corpus(docs, cfg)["unique"]
        .select("doc_id")
        .collect()
    }
    assert 3 in kept
    assert 1 not in kept and 2 not in kept

    # stage off -> all three survive (no silent default-on)
    cfg_off = PrepConfig(
        thresholds=None,
        redact=False,
        jaccard_threshold=0.95,
        chunk_size=200,
        chunk_stride=200,
        pack_max_tokens=4096,
    )
    kept_off = {
        r.doc_id
        for r in trainprep.prepare_corpus(docs, cfg_off)["unique"]
        .select("doc_id")
        .collect()
    }
    assert kept_off == {1, 2, 3}


def test_html_input_stage(spark):
    from clustering_spark.trainprep import PrepConfig, prepare_corpus

    rows = [
        (
            i,
            "<html><script>var t = 'junk';</script><body>"
            f"<p>Real document number {i} about rivers and valleys and "
            "the slow work of water on stone.</p></body></html>",
        )
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = prepare_corpus(df, PrepConfig(html=True))
    clean = out["clean"].select("doc_id", "text").collect()
    assert len(clean) == 8
    for r in clean:
        assert "<p>" not in r.text and "junk" not in r.text
        assert "Real document" in r.text


def test_packs_never_straddle_splits(spark):
    """A pack is one training sequence: members must share one split
    (concatenating a test doc into a train sequence is leakage)."""
    from pyspark.sql import functions as F

    rows = [
        (
            i,
            f"totally unique document number {i} "
            + " ".join(f"w{i}x{j}" for j in range(30)),
        )
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = PrepConfig(thresholds=None, pack_max_tokens=64)
    out = trainprep.prepare_corpus(df, cfg)
    packs = out["packs"].select("doc_id", "split", "pack_id")
    labels = out["split"].select("doc_id", F.col("split").alias("split_label"))
    j = packs.join(labels, on="doc_id").cache()
    try:
        assert j.count() == 300  # every survivor packed exactly once
        assert j.filter(F.col("split") != F.col("split_label")).count() == 0
        hetero = (
            j.groupBy("split", "pack_id")
            .agg(F.count_distinct("split_label").alias("n"))
            .filter(F.col("n") > 1)
        )
        assert hetero.count() == 0
    finally:
        j.unpersist()
    assert "split" in out["sequences"].columns


def test_duplicate_ids_collapse_to_one_survivor(spark):
    # under a violated unique-id contract the near-dup survivor filter
    # must still keep ONE row per component (id == min(id) kept every
    # tied row — duplicated training data after the dedup stage)
    from clustering_spark.trainprep import PrepConfig, prepare_corpus

    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the quiet forest while the morning light slowly rises"
    )
    df = spark.createDataFrame(
        [(7, base), (7, base + " edited tail here"), (9, "a completely different "
          "document about distributed query engines and shuffle planning")],
        "doc_id long, text string",
    )
    out = prepare_corpus(df, PrepConfig(thresholds=None))
    uniq = out["unique"].collect()
    assert len([r for r in uniq if r.doc_id == 7]) == 1
    assert len(uniq) == 2


def test_drop_oversize_excludes_long_docs_from_sequences(spark):
    from clustering_spark.trainprep import PrepConfig, prepare_corpus

    words_long = " ".join(f"w{i}" for i in range(300))
    words_short = " ".join(f"s{i} t{i} u{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, words_long), (2, words_short)], "doc_id long, text string"
    )
    cfg = PrepConfig(thresholds=None, pack_max_tokens=64, drop_oversize=True)
    out = prepare_corpus(df, cfg)
    seqs = out["sequences"].collect()
    assert all(not r.oversize for r in seqs)
    assert all(r.total_tokens <= 64 for r in seqs)
    # default keeps the oversize sequence, flagged
    out2 = prepare_corpus(df, PrepConfig(thresholds=None, pack_max_tokens=64))
    assert any(r.oversize for r in out2["sequences"].collect())


def test_bpe_model_drives_pack_budget(spark):
    """With cfg.bpe_model set, the packing budget counts LEARNED
    tokens: pack token sums must match bpe_token_count recomputed
    directly, not the whitespace heuristic."""
    from clustering_spark.operators.bpe import bpe_token_count, train_bpe

    df = spark.createDataFrame(
        [(i, GOOD_A if i % 2 else GOOD_B) for i in range(1, 7)],
        "doc_id long, text string",
    )
    model = train_bpe(df, "text", n_merges=30, max_words=500)
    cfg = PrepConfig(
        thresholds=QualityThresholds(min_quality_score=0.0),
        jaccard_threshold=0.99,  # keep every doc distinct enough
        pack_max_tokens=200,
        bpe_model=model,
    )
    out = trainprep.prepare_corpus(df, cfg)
    packs = out["packs"].toPandas()
    survivors = out["unique"]
    want = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_token_count(survivors, "text", model).collect()
    }
    got = dict(zip(packs.doc_id, packs.n_tokens))
    assert got == {k: want[k] for k in got}
    assert (
        packs.groupby(["split", "pack_id"]).n_tokens.sum() <= 200
    ).all()


def test_emit_id_rows_end_to_end(spark):
    """cfg.emit_id_rows: the chain ends at fixed-seq_len TOKEN-ID rows
    — EOS-inclusive budgets make overflow impossible by construction,
    rows are exactly seq_len long, real-token totals are token-exact
    vs per-doc id arrays, and id rows never straddle splits."""
    from clustering_spark.operators.bpe import bpe_encode_ids, train_bpe

    df = spark.createDataFrame(
        [(i, GOOD_A if i % 2 else GOOD_B) for i in range(1, 7)],
        "doc_id long, text string",
    )
    model = train_bpe(df, "text", n_merges=30, max_words=500)
    cfg = PrepConfig(
        thresholds=QualityThresholds(min_quality_score=0.0),
        jaccard_threshold=0.99,
        pack_max_tokens=256,
        bpe_model=model,
        emit_id_rows=True,  # eos/pad default to the RESERVED specials
    )
    out = trainprep.prepare_corpus(df, cfg)
    rows = out["id_rows"].toPandas()
    assert not rows.overflow.any()
    assert (rows.input_ids.map(len) == 256).all()
    assert (rows.doc_map.map(len) == 256).all()
    survivors = out["unique"]
    from clustering_spark.operators.bpe import EOS, PAD, UNK

    per_doc = bpe_encode_ids(
        survivors, "text", model, specials=(UNK, PAD, EOS)
    ).toPandas()
    assert rows.n_real_tokens.sum() == sum(
        len(r) + 1 for r in per_doc.bpe_ids
    )
    # split labels present and id rows exist for every non-empty split
    packs = out["packs"].toPandas()
    assert set(rows.split) == set(packs.split)


def test_emit_id_rows_requires_model(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bpe_model"):
        trainprep.prepare_corpus(df, PrepConfig(emit_id_rows=True))


def test_dup_line_gate_sees_real_newlines(spark):
    """Round-16 review: quality_gate runs BEFORE normalize_text — the
    old order collapsed newlines first, making dup_line_ratio
    identically 0 so the repeated-line gate never fired. The fixture
    is built so ONLY the line signal trips (2-gram and top-token
    ratios stay under their thresholds), which is exactly the case
    the old order silently admitted."""
    from clustering_spark.operators.textnorm import repetition_signals

    nav = "site navigation menu with several links"
    uniq = [
        "the harbor lights flickered over the cold water at dusk",
        "a census of migratory birds began along the estuary flats",
        "engineers recalibrated the bridge sensors before the storm",
        "the archive digitization project entered its second phase",
    ]
    boiler = "\n".join([nav] * 8 + uniq)
    df = spark.createDataFrame(
        [(1, boiler), (2, GOOD_B)], "doc_id long, text string"
    )
    # self-validating construction: line signal trips, the others don't
    sig = repetition_signals(df, "text").where(F.col("doc_id") == 1).collect()[0]
    assert sig.dup_line_ratio > 0.5, sig
    assert sig.rep_2gram_ratio <= 0.6, sig
    cfg = PrepConfig(thresholds=QualityThresholds(min_quality_score=0.0))
    out = trainprep.prepare_corpus(df, cfg)
    kept = [r.doc_id for r in out["clean"].select("doc_id").collect()]
    assert kept == [2]


def test_input_comp_column_flows_through_and_component_raises(spark):
    """Round-16 review: an input 'comp' column previously produced an
    AMBIGUOUS_REFERENCE crash three joins into the chain; it must
    flow through untouched. Reserved output names raise up front."""
    df = spark.createDataFrame(
        [(1, GOOD_A, "x"), (2, GOOD_B, "y")],
        "doc_id long, text string, comp string",
    )
    cfg = PrepConfig(thresholds=None, redact=False)
    out = trainprep.prepare_corpus(df, cfg)
    rows = {r.doc_id: r.comp for r in out["unique"].select("doc_id", "comp").collect()}
    assert rows == {1: "x", 2: "y"}
    bad = df.withColumnRenamed("comp", "component")
    with pytest.raises(ValueError, match="collide with prepare_corpus"):
        trainprep.prepare_corpus(bad, cfg)
