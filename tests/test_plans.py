"""Physical-plan audits: pin the plan properties the 100 TB design
depends on. A green result with the wrong plan fails HERE.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clustering_spark.functions.scaling import scale_segments
from clustering_spark.plans import (
    count_shuffles,
    exchange_blocks,
    formatted_plan,
    join_strategies,
    plan_tree,
    pushed_filters,
    scan_schema_columns,
)
from clustering_spark.queries import QUERIES
from tests.conftest import SF_DIR


def test_filter_pushdown_reaches_scan(spark):
    """pricing_summary's shipdate filter must reach the parquet scan."""
    df = QUERIES["pricing_summary"](spark, SF_DIR)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in f for f in pushed)


def test_column_pruning(spark):
    """A 4-column projection must read exactly 4 columns."""
    df = QUERIES["nulldrop_projection"](spark, SF_DIR)
    scans = scan_schema_columns(df)
    assert scans and set(scans[0]) == {
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
    }


def test_tiny_dims_broadcast(spark):
    """hierarchy_rollup joins nation+region — both must broadcast,
    never shuffle the fact side for a 25-row dim."""
    df = QUERIES["hierarchy_rollup"](spark, SF_DIR)
    js = join_strategies(df)
    assert js and all(j == "BroadcastHashJoin" for j in js)


def test_scaling_is_one_aggregation_plus_broadcast_join(spark):
    """scale_segments: stats agg + broadcast join-back. The fact table
    must NOT be hash-repartitioned — the only Exchanges allowed are the
    stats aggregation's (pre/post shuffle of the TINY grouped frame)
    and broadcast distribution."""
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    out = scale_segments(c, ["c_acctbal"], ["c_nationkey", "c_mktsegment"])
    js = join_strategies(out)
    assert js == ["BroadcastHashJoin"]
    # no sort anywhere (no SortMergeJoin path)
    assert "SortMergeJoin" not in plan_tree(out)


def test_no_forced_broadcast_of_growing_dims(spark):
    """revenue_by_nation: customer grows with SF — the plan must not
    contain a build side forced from a ResolvedHint on customer.
    (AQE may still CHOOSE broadcast at this sf; the invariant is that
    the logical plan carries no hint except for nation.)"""
    from clustering_spark.queries import OFF_GATE_QUERIES

    df = OFF_GATE_QUERIES["revenue_by_nation"](spark, SF_DIR)
    logical = df._jdf.queryExecution().logical().toString()
    import re

    hints = re.findall(r"UnresolvedHint broadcast[\s\S]{0,200}?parquet\.`?([^\s,\]`]+)", logical)
    joined = " ".join(hints)
    assert "customer" not in joined


def test_cluster_pipeline_single_wide_shuffle(spark):
    """The flagship clustering plan: the fact table crosses the wire
    once (the groupBy(segment) feeding applyInPandas) and — critically
    — the model fit appears EXACTLY ONCE in the plan. (The previous
    d3_normalize implementation re-evaluated the fit subtree for its
    bounds aggregate, silently doubling the dominant cost.)"""
    from clustering_spark.queries import q_cluster_kmeans

    df = q_cluster_kmeans(spark, SF_DIR)
    tree = plan_tree(df)
    assert tree.count("FlatMapGroupsInPandas") == 1
    # no sort-merge join anywhere in the pipeline
    assert "SortMergeJoin" not in tree


def test_text_profile_single_scan_no_join(spark):
    """The merged text profile (lang-ID + token counts + fingerprint)
    must stay ONE documents scan of pure native expressions — no join
    (the DuckDB oracle joins; the Spark plan must not need to)."""
    df = QUERIES["text_profile"](spark, SF_DIR)
    tree = plan_tree(df)
    assert tree.count("Scan parquet") == 1
    assert "Join" not in tree


def test_shared_partial_queries_scan_fact_once(spark):
    """pairdist and windowed_events derive both union branches from one
    localCheckpointed partial aggregate: the final plan must contain NO
    parquet scan at all (the single fact scan ran in the checkpoint
    job) — a regression re-introduces one scan per branch."""
    for name in ("pairdist", "windowed_events"):
        df = QUERIES[name](spark, SF_DIR)
        tree = plan_tree(df)
        assert "Scan parquet" not in tree, name


def test_cluster_fit_multi_algo_is_one_shuffle(spark):
    """The merged cluster_fit query fits all THREE algorithms inside
    one Arrow task: exactly one FlatMapGroupsInPandas in the plan (a
    union of three single-algorithm pipelines would show three, each
    re-scanning and re-shuffling the fact table)."""
    df = QUERIES["cluster_fit"](spark, SF_DIR)
    tree = plan_tree(df)
    assert tree.count("FlatMapGroupsInPandas") == 1
    assert "SortMergeJoin" not in tree


def _container_frame(spark):
    """Two (customer, application) segments, three metric columns."""
    rows = [
        (f"c{s}", "app", float(i % 7), float(i * 3 % 11), float(i * 5 % 13))
        for s in range(2)
        for i in range(24)
    ]
    return spark.createDataFrame(
        rows,
        "customer_id string, application_id string, cpu_percent double, "
        "ram_usage double, io_usage double",
    )


def _grid_config(ys, algorithms, **kw):
    from clustering_spark.config import PipelineConfig

    return PipelineConfig(
        filtering_columns={"customer_id": ["application_id"]},
        columns={"cpu_percent": ys},
        algorithms=algorithms,
        **kw,
    )


def test_run_grid_fits_each_column_pair_in_one_shuffle(spark):
    """run_grid fits all of a column pair's algorithms in one Arrow
    stage: one FlatMapGroupsInPandas per (x, y) pair, whatever the
    algorithm count. Per-algorithm cells would show one per algorithm,
    each re-scaling and re-shuffling the segment matrix."""
    from clustering_spark.pipeline import run_grid

    df = _container_frame(spark)
    algs = ["KMeans", "GaussianMixture", "BisectingKMeans"]
    for ys, stages in ((["ram_usage"], 1), (["ram_usage", "io_usage"], 2)):
        tree = plan_tree(run_grid(df, _grid_config(ys, algs), k=2))
        assert tree.count("FlatMapGroupsInPandas") == stages, ys


def test_run_grid_parity_mode_keeps_every_algorithm(spark):
    """Parity mode cannot share an MLlib fit, so run_grid falls back
    to one cell per algorithm; both algorithms still return rows."""
    from clustering_spark.pipeline import run_grid

    cfg = _grid_config(
        ["ram_usage"], ["KMeans", "BisectingKMeans"], fit_mode="parity", iter_num=1
    )
    df = _container_frame(spark).filter(F.col("customer_id") == "c0")
    got = run_grid(df, cfg, k=2).toPandas()
    assert set(got.algorithm) == {"KMeans", "BisectingKMeans"}


def test_topk_uses_take_ordered(spark):
    """topk_segments must plan TakeOrderedAndProject (bounded memory),
    not a global sort."""
    df = QUERIES["topk_segments"](spark, SF_DIR)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_minhash_join_is_equi_join(spark):
    """The LSH band self-join must be a hash equi-join on the band
    key — never a nested-loop/cartesian candidate generator."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from clustering_spark.operators.dedup import minhash_lsh_pairs

    df = minhash_lsh_pairs(docs, "doc_id", "text")
    js = join_strategies(df)
    assert js
    assert "BroadcastNestedLoopJoin" not in js and "CartesianProduct" not in js


def test_minhash_band_shuffle_is_slim(spark):
    """The 16x-exploded band rows must cross the wire WITHOUT the
    per-doc shingle-hash arrays: any Exchange partitioned on the band
    key carries only (id, band_idx, band_hash). The arrays travel at
    most once, un-exploded, in the verify join-back."""
    from clustering_spark.operators.dedup import minhash_lsh_pairs
    from clustering_spark.plans.audit import exchange_blocks

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = minhash_lsh_pairs(docs, "doc_id", "text")
    band_exchanges = [
        b for b in exchange_blocks(df) if "band_idx" in b and "band_hash" in b
    ]
    # at test scale AQE may broadcast the band table instead of
    # shuffling it; the slim property must hold for either wire
    assert band_exchanges, "expected an exchange on the band key"
    for b in band_exchanges:
        assert "__sh" not in b, f"band exchange carries shingle arrays:\n{b}"


def test_ngram_prefix_join_is_equi_join(spark):
    """The prefix-filtered candidate join (the scale path for corpora
    over the dense all-pairs cap — forced here with
    allpairs_max_docs=0) must be an equi-join on the shingle-hash
    key — never nested-loop/cartesian."""
    from clustering_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = ngram_jaccard_pairs(docs, "doc_id", "text", allpairs_max_docs=0)
    js = join_strategies(df)
    assert js
    assert "CartesianProduct" not in js
    # the only nested-loop joins allowed are 1-row broadcast
    # crossJoins landing the corpus count for the df-cap threshold
    # (the prefix subtree containing it is instantiated once per
    # self-join side, so it may appear twice)
    assert js.count("BroadcastNestedLoopJoin") <= 2
    assert "SortMergeJoin" in js or "BroadcastHashJoin" in js


def test_ivf_persisted_index_prunes_partitions(spark, tmp_path):
    """Persisting the IVF index partitionBy('cell') must turn search
    into a partition-pruned scan: the probe-cell filter shows up as a
    PartitionFilter (directory pruning — at 100 TB a query touches
    nprobe/nlist of the data), and results match searching the
    un-persisted frame."""
    from clustering_spark.operators.similarity import IVFIndex
    from clustering_spark.plans.audit import formatted_plan

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = IVFIndex(nlist=8, seed=7).fit(emb, "embedding")
    indexed = idx.transform(emb, "embedding")
    out = str(tmp_path / "ivf")
    indexed.write.partitionBy("cell").parquet(out)

    persisted = spark.read.parquet(out)
    query = [float((i * 37) % 19 - 9) / 10.0 for i in range(64)]
    got = idx.search(persisted, "embedding", "vec_id", query, k=5, nprobe=2)
    plan = formatted_plan(got)
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]
    mem = idx.search(indexed, "embedding", "vec_id", query, k=5, nprobe=2)
    a = [tuple(r) for r in got.collect()]
    b = [tuple(r) for r in mem.collect()]
    assert a == b and len(a) == 5


def test_doc_chunks_is_pruned_generate(spark):
    """doc_chunks: scan reads only (doc_id, text); the explode is a
    Generate with no shuffle anywhere in the plan."""
    df = QUERIES["doc_chunks"](spark, SF_DIR)
    scans = scan_schema_columns(df)
    assert scans and set(scans[0]) == {"doc_id", "text"}
    assert count_shuffles(df) == 0
    assert "Generate" in plan_tree(df)


def test_contamination_broadcasts_test_side(spark):
    """contamination_check: the test-side shingle table must broadcast
    (the train corpus is never shuffled pre-join)."""
    df = QUERIES["contamination_check"](spark, SF_DIR)
    assert "BroadcastHashJoin" in join_strategies(df)


def test_json_props_scan_is_pruned(spark):
    """json_props_stats: the events scan reads only (event_type, props)."""
    df = QUERIES["json_props_stats"](spark, SF_DIR)
    scans = scan_schema_columns(df)
    assert scans and set(scans[0]) == {"event_type", "props"}


def test_pivot_is_single_aggregation(spark):
    """Explicit pivot values: one shuffle (the groupBy), no extra
    distinct-values job hidden in the plan."""
    df = QUERIES["pivot_user_event_counts"](spark, SF_DIR)
    assert count_shuffles(df) == 1


def test_salted_join_replicates_small_side_only(spark):
    """The salted join must keep the big side un-replicated: the only
    Generate (explode) in the plan feeds the supplier dim, and the join
    remains an equi-join on (key, salt)."""
    df = QUERIES["salted_join_revenue"](spark, SF_DIR)
    tree = plan_tree(df)
    assert tree.count("Generate") == 1
    strategies = join_strategies(df)
    assert strategies and all(
        s in {"BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"}
        for s in strategies
    )


def test_tfidf_partial_aggregation_and_broadcast_idf(spark):
    """tfidf_terms: the tf aggregation must be map-side combined
    (partial_count before the exchange) and the tf x idf join must be
    a broadcast, never a sort-merge (the idf side is vocab-sized; at
    sf scale AQE may flip which side builds — either is fine, a
    SortMergeJoin is not)."""
    from clustering_spark.operators import textops

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = textops.tfidf_terms(d, "doc_id", "text")
    fp = formatted_plan(out)
    assert "partial_count" in fp  # map-side combine on (doc, term)
    assert "BroadcastHashJoin" in join_strategies(out)
    assert "SortMergeJoin" not in plan_tree(out)


def test_packing_shuffles_only_narrow_columns(spark):
    """pack_sequences: the only exchange carries (id, n_tokens,
    bucket) — text never reaches the Python worker or the shuffle."""
    from clustering_spark.operators import packing, textops

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", textops.token_count("text").alias("n_tok")
    )
    out = packing.pack_sequences(d, "doc_id", "n_tok", 2048)
    blocks = exchange_blocks(out)
    assert blocks, "expected the bucket exchange"
    assert all("text" not in b for b in blocks)
    assert "FlatMapGroupsInPandas" in plan_tree(out)


def test_novel_exact_anti_join_on_digest(spark):
    """novel_exact: the corpus side must collapse to a digest-only
    exchange (16-byte __fp, never the corpus text) feeding a broadcast
    LeftAnti; the ONE wide-row exchange allowed is the new-batch
    in-batch-survivor window shuffle."""
    from clustering_spark.operators import dedup

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = dedup.novel_exact(d, corpus, "doc_id", "text")
    tree = plan_tree(out)
    assert "LeftAnti" in tree
    blocks = exchange_blocks(out)
    # a digest-only exchange exists (the corpus branch)...
    assert any("__fp" in b and "text" not in b for b in blocks)
    # ...and at most one exchange carries the wide rows (the window)
    assert sum(1 for b in blocks if "text" in b) <= 1


def test_blocklist_filter_broadcasts_list(spark):
    """filter_domain_blocklist: the suffix-match join is non-equi, so
    it plans as BroadcastNestedLoopJoin — acceptable ONLY because the
    blocklist side is broadcast (tiny by contract). Pin that the
    build side is broadcast, not the documents."""
    from clustering_spark.operators import textnorm

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    blocked = spark.createDataFrame([("example.com",)], "domain string")
    out = textnorm.filter_domain_blocklist(d, "doc_id", "text", blocked)
    tree = plan_tree(out)
    assert "BroadcastNestedLoopJoin" in tree or "BroadcastHashJoin" in tree


def test_passage_dup_stats_hash_only_shuffles(spark):
    """passage_dup_stats: no cartesian/BNLJ stage, and document text
    never rides an exchange — only chunk hashes and ids shuffle."""
    from clustering_spark.operators.dedup import passage_dup_stats

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = passage_dup_stats(d)
    tree = plan_tree(out)
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    blocks = exchange_blocks(out)
    assert blocks
    assert all("text" not in b for b in blocks)


def test_corpus_report_overall_single_scan_single_exchange(spark):
    """The 1-row data-card aggregate: one parquet scan, one exchange
    (partial -> final agg) — no per-metric extra jobs."""
    from clustering_spark.operators.reporting import corpus_report

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rep = corpus_report(d)
    o = rep["overall"]
    assert count_shuffles(o) == 1
    assert plan_tree(o).count("Scan parquet") == 1


def test_epoch_shuffle_on_real_table_one_exchange(spark):
    """epoch_shuffle over the parquet documents table keeps the
    single-exchange, no-global-sort contract on a real scan too."""
    from clustering_spark.operators.shuffling import epoch_shuffle

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = epoch_shuffle(d, "doc_id", 64, epoch=2)
    tree = plan_tree(out)
    assert count_shuffles(out) == 1
    assert "rangepartitioning" not in tree.lower()


def test_trainprep_composition_adds_no_exchanges(spark):
    """trainprep.prepare_corpus promises it only WIRES operators —
    no shuffle, collect, or Python stage of its own. With the survivor
    table staged (localCheckpoint truncates lineage), every output's
    remaining plan must contain exactly the exchanges its own terminal
    operator needs and nothing from the composition glue:

    - clean: scan-speed project+filter — zero exchanges
    - split: a hash predicate on the staged table — zero
    - chunks: native explode of the staged table — zero
    - packs: pack_sequences' (id, n_tokens) bucket hash — ONE exchange
      per split (packing is per-split so sequences never straddle
      train/val/test; the three exchanges cover DISJOINT subsets, so
      total shuffled volume equals the old single exchange), and no
      wire may carry text
    - sequences: per-split packs + materialization joins back to the
      staged text — join exchanges only, bounded at 4 per split
    """
    from clustering_spark.trainprep import PrepConfig, prepare_corpus

    rows = [
        (i, f"document number {i} with some repeated tokens " * 3)
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = PrepConfig()
    out = prepare_corpus(df, cfg)
    n_splits = len(cfg.split_fractions)

    assert count_shuffles(out["clean"]) == 0
    assert count_shuffles(out["split"]) == 0
    assert count_shuffles(out["chunks"]) == 0
    assert count_shuffles(out["packs"]) == n_splits
    # every packing exchange is the narrow (id, token-count) wire
    for b in exchange_blocks(out["packs"]):
        assert "text" not in b, f"pack exchange carries text:\n{b}"
    assert count_shuffles(out["sequences"]) <= 4 * n_splits


def test_compute_bound_arrow_stages_are_spread_past_aqe(spark):
    """The round-7 serialization fix: every compute-bound
    groupBy().applyInPandas stage must sit on a USER-NUMBERED hash
    repartition of its group keys (REPARTITION_BY_NUM) — the only
    partitioning AQE's byte-based coalescing is forbidden to fold.
    Without it, AQE folded 125 tuner segments (a few hundred KB) into
    ONE partition and serialized ~22 s of per-segment numpy on a
    single Python worker (optimal_k sf0.01: 18.5 s -> 2.8 s).
    Exactly ONE exchange: the spread satisfies the Arrow stage's
    required ClusteredDistribution, so the groupBy adds no second
    wire."""
    from clustering_spark.operators.clustering import SegmentedClusterer
    from clustering_spark.operators.tuner import optimal_k_sweep

    df = spark.createDataFrame(
        [("a", 1.0, 2.0), ("b", 3.0, 4.0)], "seg string, x double, y double"
    )

    sweep = optimal_k_sweep(df, ["seg"], ["x", "y"])
    p = formatted_plan(sweep)
    assert "REPARTITION_BY_NUM" in p
    assert count_shuffles(sweep) == 1

    fit = SegmentedClusterer(["seg"], ["x", "y"], "KMeans").fit_summarize(df)
    p = formatted_plan(fit)
    assert "REPARTITION_BY_NUM" in p
    assert count_shuffles(fit) == 1


def test_strip_html_is_pure_projection(spark):
    """The registered strip_html entry must stay a scan-speed native
    projection: NO Python worker (regexp/replace chain only), and the
    ONLY exchange is load_spread's deliberate round-robin spread of
    the compute-heavy projection — no hash/range repartition, no
    aggregation wire. A future 'improvement' that drops a UDF or a
    keyed shuffle in here fails loudly. (Round 15: retired to
    OFF_GATE_QUERIES; the pin follows it there.)"""
    from clustering_spark.queries import OFF_GATE_QUERIES

    df = OFF_GATE_QUERIES["strip_html"](spark, SF_DIR)
    p = formatted_plan(df)
    assert count_shuffles(df) <= 1
    assert "RoundRobinPartitioning" in p or count_shuffles(df) == 0
    assert "hashpartitioning" not in p and "rangepartitioning" not in p
    tree = plan_tree(df)
    assert "Python" not in tree and "ArrowEval" not in tree


def test_cluster_assign_single_fit_shuffle(spark):
    """cluster_assign (the hash-gated planted-blob KMeans fit) shares
    fit_summarize's one-exchange contract: the derived feature build is
    a projection on the scan, then ONE spread/groupBy wire into the
    Arrow fit — no extra exchanges from the arithmetic blob/jitter
    construction."""
    df = QUERIES["cluster_assign"](spark, SF_DIR)
    assert count_shuffles(df) == 1
    p = formatted_plan(df)
    assert "REPARTITION_BY_NUM" in p


def test_quality_score_zero_wide_shuffles_no_python(spark):
    """The quality_score gate entry (pinned linear model over the
    documents scan) must keep score_quality_linear's plan contract at
    the QUERY level: no Python/Arrow eval node anywhere, no hash/range
    exchange — the only allowed exchange is load_spread's deliberate
    round-robin spread. The learn-tiny/apply-wide pattern lives or
    dies on this projection staying inside whole-stage codegen."""
    df = QUERIES["quality_score"](spark, SF_DIR)
    p = formatted_plan(df)
    assert "hashpartitioning" not in p and "rangepartitioning" not in p
    assert count_shuffles(df) <= 1  # round-robin spread only
    tree = plan_tree(df)
    assert "Python" not in tree and "ArrowEval" not in tree


def test_media_metadata_gate_join_is_broadcast_no_wide_exchange(spark):
    """The upgraded media_metadata entry joins the native metadata
    projection with the header-router mapInPandas output on doc_id.
    Both sides are the same bounded documents scan; the join must
    resolve as a broadcast (AQE or static), never a sort-merge with
    two hash exchanges — at 100 TB each stage runs standalone, and the
    gate-shaped join must not normalize a shuffle."""
    df = QUERIES["media_metadata"](spark, SF_DIR)
    strategies = join_strategies(df)
    assert strategies, "expected a join in the media_metadata plan"
    assert all("SortMerge" not in s for s in strategies), strategies


def test_pca_project_single_spread_no_wide_exchange(spark):
    """The pca_project gate entry (frozen whitened model over the
    embeddings scan) is apply-wide's whole point: one Arrow batch
    kernel over the scan, per-component projections — no hash/range
    exchange anywhere; the only exchange is load_spread's deliberate
    round-robin spread."""
    df = QUERIES["pca_project"](spark, SF_DIR)
    p = formatted_plan(df)
    assert "hashpartitioning" not in p and "rangepartitioning" not in p
    assert count_shuffles(df) <= 1  # round-robin spread only


def test_materialize_id_rows_is_jvm_only_one_inherent_shuffle(spark):
    """The id-row materialization is the last op before the training
    sink — it must stay native (array HOFs, no Python/Arrow eval node)
    with only the inherent pack-member co-location shuffle beyond the
    assignment's own applyInPandas grouping."""
    from clustering_spark.operators.packing import (
        materialize_id_rows,
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [(i, [int(i), int(i) + 1]) for i in range(100)],
        "doc_id long, ids array<int>",
    )
    asg = pack_sequences(
        docs.selectExpr("doc_id", "size(ids) + 1 AS n_tok"),
        "doc_id", "n_tok", max_tokens=16, num_buckets=4,
    )
    rows = materialize_id_rows(
        docs, asg, "doc_id", "ids", seq_len=16, eos_id=-2, pad_id=-3
    )
    # cut the plan at the (already-pinned-elsewhere) packing stage:
    # audit only the materialization ABOVE a static assignment
    static = spark.createDataFrame(asg.collect(), asg.schema)
    rows2 = materialize_id_rows(
        docs, static, "doc_id", "ids", seq_len=16, eos_id=-2, pad_id=-3
    )
    tree = plan_tree(rows2)
    assert "ArrowEval" not in tree and "BatchEvalPython" not in tree
    # join + groupBy over two in-memory sides: exchanges are bounded
    assert count_shuffles(rows2) <= 3
    pdf = rows.toPandas()
    assert (pdf.input_ids.map(len) == 16).all()


def test_pdf_text_single_scan_no_exchange(spark):
    """pdf_text is ONE mapInPandas stage over the blob scan: no
    exchange of any kind (the blobs must never ride a shuffle — at
    100 TB that is the whole cost model), exactly one Arrow-backed
    Python stage."""
    from clustering_spark.operators.pdf import make_pdf, pdf_text

    df = spark.createDataFrame(
        [(i, make_pdf([f"p{i}"])) for i in range(4)],
        "id long, blob binary",
    )
    out = pdf_text(df, "blob", "id")
    assert count_shuffles(out) == 0
    tree = plan_tree(out)
    assert "MapInPandas" in tree or "ArrowEval" in tree


def test_media_router_single_scan_no_exchange(spark):
    """media_header_meta runs FOURTEEN format families in one
    mapInPandas scan — the plan must show exactly that: one Python
    stage, zero exchanges."""
    from clustering_spark.operators.multimodal import (
        make_fake_image,
        media_header_meta,
    )

    df = spark.createDataFrame(
        [(i, make_fake_image(9, 8, fill=i)) for i in range(4)],
        "id long, blob binary",
    )
    out = media_header_meta(df, "blob", "id")
    assert count_shuffles(out) == 0
    assert plan_tree(out).count("MapInPandas") == 1


def test_office_text_single_scan_no_exchange(spark):
    """office_text mirrors pdf_text's cost model: ONE mapInPandas
    stage, zero exchanges — document blobs never ride a shuffle."""
    from clustering_spark.operators.office import make_docx, office_text

    df = spark.createDataFrame(
        [(i, make_docx([f"p{i}"])) for i in range(4)],
        "id long, blob binary",
    )
    out = office_text(df, "blob", "id")
    assert count_shuffles(out) == 0
    assert plan_tree(out).count("MapInPandas") == 1


def test_bpe_ids_plan_shape(spark):
    """bpe_ids (round 15): the trainer-input chain must keep its
    100 TB shape — the slim (id, n_tokens) assignment BROADCASTS back
    onto the id arrays (never a shuffled join), no cartesian product,
    and at most 4 exchanges total: the deliberate round-robin spread,
    the bucket shuffle into the FFD packer, and the inherent
    pack-member co-location groupBy (+AQE bookkeeping)."""
    from clustering_spark.queries import QUERIES

    df = QUERIES["bpe_ids"](spark, SF_DIR)
    assert count_shuffles(df) <= 4
    tree = plan_tree(df)
    assert "CartesianProduct" not in tree
    # the assignment join-back must BE a broadcast join — a
    # SortMergeJoin/ShuffledHashJoin here is the shuffled-join
    # regression this pin exists for (round-15 review: the earlier
    # disjunction was vacuously true without any broadcast)
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree and "ShuffledHashJoin" not in tree


def test_image_text_pairs_media_dedupe_keeps_one_exchange(spark):
    """Round-16 review: the media-side dedupe (ONE blob per join key,
    added for alias re-fetches) must not add a second shuffle of the
    blob column — the min() aggregate partitions by resolved_url and
    the pairing join REUSES that partitioning, with a partial
    (map-side) min combining duplicate fetches before any bytes move."""
    from clustering_spark.operators.pairing import image_text_pairs
    from clustering_spark.plans import formatted_plan, plan_tree

    pages = spark.createDataFrame(
        [("http://m/p", '<img src="http://m/a.png" alt="x">')],
        "url string, text string",
    )
    media = spark.createDataFrame(
        [("http://m/a.png", bytearray(b"A"))], "url string, body binary"
    )
    out = image_text_pairs(pages, media, normalize_urls=True)
    # map-side combine on the blob min (details section carries the
    # aggregate's function list in formatted mode)
    assert "partial_min(blob" in formatted_plan(out)
    tree = plan_tree(out)
    # exchanges: refs (page_url,resolved_url) x2 for the figcaption
    # upgrade, ONE re-key to resolved_url, ONE media-side aggregate
    # shuffle that the join reuses — a 5th means the dedupe stopped
    # sharing its partitioning with the join
    assert count_shuffles(out) <= 4
    assert "CartesianProduct" not in tree
