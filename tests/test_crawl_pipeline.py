"""Capstone: the full crawl-to-training-data path composed from this
round's pieces — WARC ingest → HTTP projection → HTML extraction →
quality gate → exact dedup → BPE tokenize → sequence packing. Every
stage already has its own unit/oracle pins; this test pins that they
COMPOSE (schemas line up, degrade contracts don't leak, the chain
stays two Python stages + native expressions until the pack)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clustering_spark.operators import textops
from clustering_spark.operators.bpe import bpe_token_count, train_bpe
from clustering_spark.operators.dedup import exact_dedup
from clustering_spark.operators.packing import pack_sequences
from clustering_spark.operators.textnorm import extract_html_text
from clustering_spark.sources.warc_source import (
    make_http_response,
    make_warc,
    read_warc,
    warc_responses,
)


def _page(body_text: str) -> bytes:
    return make_http_response(
        f"<html><head><style>p{{x}}</style></head><body><p>{body_text}"
        "</p></body></html>".encode()
    )


@pytest.fixture
def crawl_dir(tmp_path):
    prose = (
        "The river carried the old boats past the mill and the town "
        "woke slowly to the sound of water over stone."
    )
    records = [
        ("warcinfo", "", b"software: capstone\r\n"),
        ("response", "http://a.example/1", _page(prose)),
        ("response", "http://a.example/dup", _page(prose)),  # exact dup
        (
            "response",
            "http://b.example/2",
            _page("Quiet gardens grow beside the long road north."),
        ),
        ("response", "http://spam.example/", _page("$ 0 ! 9 " * 30)),
        ("response", "http://bin.example/", make_http_response(b"\x00\x01")),
    ]
    (tmp_path / "crawl-00000.warc.gz").write_bytes(
        make_warc(records, gzip_members=True)
    )
    return str(tmp_path)


def test_crawl_to_packed_sequences(spark, crawl_dir):
    # 1. ingest + HTTP projection (two mapInPandas stages, per-file
    #    degrade already pinned in test_warc)
    resp = warc_responses(read_warc(spark, crawl_dir))
    html = resp.filter(F.col("http_content_type").startswith("text/html"))

    # 2. HTML -> text (native regexp chain), quality gate (native)
    docs = extract_html_text(html, "text", out_col="clean").select(
        F.col("url"), F.col("clean").alias("text")
    )
    docs = textops.quality_features(docs, "text")
    kept = docs.filter(
        (F.col("n_tokens") >= 5) & (F.col("quality_score") >= 0.5)
    ).select("url", "text")
    kept_urls = {r.url for r in kept.collect()}
    assert "http://spam.example/" not in kept_urls  # gated out
    assert "http://bin.example/" not in kept_urls   # never text/html
    assert {"http://a.example/1", "http://a.example/dup",
            "http://b.example/2"} <= kept_urls

    # 3. exact dedup on content: survivors = min-id per content hash,
    #    joined back to the text (the shuffle carries only (hash, id))
    keyed = kept.withColumn("doc_id", F.xxhash64("url"))
    survivors = exact_dedup(keyed, ["text"], "doc_id")
    deduped = keyed.join(survivors.select("doc_id"), "doc_id")
    texts = [r.text for r in deduped.collect()]
    assert len(texts) == len(set(texts)) == 2  # dup page collapsed
    assert survivors.agg(F.sum("n_copies")).first()[0] == 3

    # 4. learned tokenizer over the surviving corpus, then packing
    model = train_bpe(deduped, "text", n_merges=40, max_words=500)
    counted = bpe_token_count(deduped, "text", model)
    packed = pack_sequences(
        counted, id_col="doc_id", token_col="n_bpe_tokens", max_tokens=64
    )
    pdf = packed.toPandas()
    assert len(pdf) == 2  # every surviving doc placed exactly once
    fit = pdf[~pdf.oversize]
    assert (fit.groupby("pack_id").n_tokens.sum() <= 64).all()


def test_crawl_to_trainer_input_id_rows(spark, crawl_dir):
    """Round-12 extension of the capstone: the chain no longer stops
    at packed TEXT — it ends at what a trainer loads. WARC → text →
    gate → dedup → BPE ids → EOS-inclusive packing →
    materialize_id_rows, token-exact and overflow-free."""
    from clustering_spark.operators.bpe import (
        EOS,
        PAD,
        UNK,
        bpe_encode_ids,
        build_vocab,
    )
    from clustering_spark.operators.packing import materialize_id_rows

    specials = (UNK, PAD, EOS)

    resp = warc_responses(read_warc(spark, crawl_dir))
    html = resp.filter(F.col("http_content_type").startswith("text/html"))
    docs = extract_html_text(html, "text", out_col="clean").select(
        F.col("url"), F.col("clean").alias("text")
    )
    docs = textops.quality_features(docs, "text")
    kept = docs.filter(
        (F.col("n_tokens") >= 5) & (F.col("quality_score") >= 0.5)
    ).select("url", "text")
    keyed = kept.withColumn("doc_id", F.xxhash64("url"))
    survivors = exact_dedup(keyed, ["text"], "doc_id")
    deduped = keyed.join(survivors.select("doc_id"), "doc_id")

    model = train_bpe(deduped, "text", n_merges=40, max_words=500)
    vocab = build_vocab(model, specials)
    with_ids = bpe_encode_ids(deduped, "text", model, specials=specials)
    budgeted = with_ids.withColumn(
        "n_tok", F.size("bpe_ids") + F.lit(1)  # EOS-inclusive
    )
    asg = pack_sequences(
        budgeted, id_col="doc_id", token_col="n_tok", max_tokens=128
    )
    rows = materialize_id_rows(
        budgeted, asg, "doc_id", "bpe_ids",
        seq_len=128, eos_id=vocab[EOS], pad_id=vocab[PAD],
    ).toPandas()
    assert not rows.overflow.any()  # EOS-inclusive budgets, no oversize
    assert (rows.input_ids.map(len) == 128).all()
    per_doc = with_ids.toPandas()
    assert rows.n_real_tokens.sum() == sum(
        len(r) + 1 for r in per_doc.bpe_ids
    )
    # the id stream decodes back to the surviving corpus text
    from clustering_spark.operators.bpe import bpe_decode_ids

    decoded = set()
    for _, r in rows.iterrows():
        # split the flat stream back on per-doc boundaries via doc_map
        by_doc: dict[int, list[int]] = {}
        for i, o in zip(r.input_ids, r.doc_map):
            if o >= 0:
                by_doc.setdefault(o, []).append(i)
        for ids in by_doc.values():
            decoded.add(bpe_decode_ids(list(ids), model, specials=specials))
    want = {r.text for r in deduped.collect()}
    assert decoded == want


def test_mixed_html_pdf_crawl_merges_into_one_corpus(spark, tmp_path):
    """Round-12 (late) extension: a real crawl is not all HTML — PDF
    responses route through extract_pdf_text and MERGE with the
    HTML-extracted docs into one corpus for the same downstream
    gate/dedup/tokenize chain. Pins the Content-Type split, the PDF
    leg's schema lining up with the HTML leg's, and that an
    encrypted PDF degrades to a skipped row, never a batch failure."""
    from clustering_spark.operators.office import make_docx
    from clustering_spark.operators.pdf import make_pdf

    prose_a = (
        "Mountain paths wind upward through the pines and the morning "
        "light settles on the valley floor below."
    )
    prose_b = (
        "The archive keeps letters from three centuries of harbor "
        "trade and every page smells of salt."
    )
    records = [
        ("response", "http://h.example/1", _page(prose_a)),
        (
            "response",
            "http://p.example/doc.pdf",
            make_http_response(
                make_pdf([prose_b], xref_stream=True),
                content_type="application/pdf",
            ),
        ),
        (
            "response",
            "http://p.example/locked.pdf",
            make_http_response(
                make_pdf(["secret"], encrypted=True),
                content_type="application/pdf",
            ),
        ),
        (
            "response",
            "http://o.example/memo.docx",
            make_http_response(
                make_docx(
                    ["Quarterly planning notes cover staffing and "
                     "the harbor expansion budget."]
                ),
                content_type=(
                    "application/vnd.openxmlformats-officedocument"
                    ".wordprocessingml.document"
                ),
            ),
        ),
    ]
    (tmp_path / "mixed-00000.warc.gz").write_bytes(
        make_warc(records, gzip_members=True)
    )
    from clustering_spark.sources.warc_source import crawl_documents

    resp = warc_responses(read_warc(spark, str(tmp_path)))

    # ONE extraction pass over all modalities (html/pdf/docx
    # dispatched on body magic; the encrypted PDF degrades per row)
    corpus = (
        crawl_documents(resp)
        .filter(F.col("text_plain").isNotNull())
        .select("url", F.col("text_plain").alias("text"), "doc_kind")
    )
    kinds = {r.url: r.doc_kind for r in corpus.collect()}
    assert kinds["http://h.example/1"] == "text"
    assert kinds["http://p.example/doc.pdf"] == "pdf"
    assert kinds["http://o.example/memo.docx"] == "docx"
    assert "http://p.example/locked.pdf" not in kinds  # encrypted

    docs = textops.quality_features(corpus.select("url", "text"), "text")
    kept = docs.filter(
        (F.col("n_tokens") >= 5) & (F.col("quality_score") >= 0.5)
    )
    got = {r.url: r.text for r in kept.select("url", "text").collect()}
    assert set(got) == {
        "http://h.example/1",
        "http://p.example/doc.pdf",
        "http://o.example/memo.docx",
    }
    assert prose_b in got["http://p.example/doc.pdf"]
    assert "harbor expansion" in got["http://o.example/memo.docx"]

    # the encrypted PDF surfaced as a per-row degrade (doc_kind
    # 'encrypted', NULL text — asserted above), not an exception; the
    # richer status taxonomy lives on the dedicated pdf_text stage
    # (tests/test_pdf.py)

    # and the merged corpus tokenizes/packs like any other
    keyed = kept.select("url", "text").withColumn(
        "doc_id", F.xxhash64("url")
    )
    model = train_bpe(keyed, "text", n_merges=30, max_words=500)
    counted = bpe_token_count(keyed, "text", model)
    packed = pack_sequences(
        counted, id_col="doc_id", token_col="n_bpe_tokens", max_tokens=64
    )
    assert packed.count() == 3


def test_encrypted_documents_surface_as_encrypted_kind(spark, tmp_path):
    """Round-13 ADVICE: crawl_documents must keep undecryptable-by-
    design documents (PDF /Encrypt, flagged ZIP members) separable
    from corrupt ones — doc_kind='encrypted', matching the status
    taxonomy of the dedicated pdf_text/office_text stages."""
    from clustering_spark.operators.office import make_docx
    from clustering_spark.operators.pdf import make_pdf
    from clustering_spark.sources.warc_source import crawl_documents

    # a DOCX whose members carry the ZIP encryption flag: set the
    # general-purpose bit 0 in every local (PK\x03\x04 +6) and
    # central-directory (PK\x01\x02 +8) header
    docx = bytearray(make_docx(["locked prose"]))
    for magic, off in ((b"PK\x03\x04", 6), (b"PK\x01\x02", 8)):
        i = 0
        while (i := docx.find(magic, i)) >= 0:
            docx[i + off] |= 0x01
            i += 4
    records = [
        (
            "response",
            "http://x.example/locked.pdf",
            make_http_response(
                make_pdf(["secret"], encrypted=True),
                content_type="application/pdf",
            ),
        ),
        (
            "response",
            "http://x.example/locked.docx",
            make_http_response(bytes(docx)),
        ),
        (
            "response",
            "http://x.example/broken.zip",
            make_http_response(b"PK\x03\x04 garbage, not a real zip"),
        ),
    ]
    (tmp_path / "enc-00000.warc").write_bytes(make_warc(records))
    out = crawl_documents(
        warc_responses(read_warc(spark, str(tmp_path)))
    )
    kinds = {r.url: r.doc_kind for r in out.collect()}
    assert kinds["http://x.example/locked.pdf"] == "encrypted"
    assert kinds["http://x.example/locked.docx"] == "encrypted"
    assert kinds["http://x.example/broken.zip"] == "corrupt"


def test_mixed_modality_crawl_dedups_text_images_and_audio(spark, tmp_path):
    """Round-13 capstone extension: ONE crawl carries HTML, images,
    and audio; the text leg dedups exactly as before, and the new
    trainprep.media_survivors stage collapses perceptual image/audio
    near-dups (dHash / audio fingerprint -> shared pigeonhole pair
    search -> connected components -> min-id survivor) — mixed-
    modality dedup end-to-end from the same WARC ingest."""
    import numpy as np

    from clustering_spark.operators.multimodal import make_wav
    from clustering_spark.operators.png import encode_png
    from clustering_spark.trainprep import media_survivors

    rng = np.random.default_rng(17)
    pixels = rng.integers(0, 256, (32, 48), dtype=np.uint8)
    # same pixels, different byte streams (filter choice): dHash-equal
    img_a = encode_png(pixels, filter_type=0)
    img_a2 = encode_png(pixels, filter_type=4)
    img_b = encode_png(
        rng.integers(0, 256, (32, 48), dtype=np.uint8), filter_type=0
    )
    # spectrally RICH fixtures (tone combs): a single pure tone lights
    # only 1-2 of the 64 fingerprint bands, so any two tones sit
    # within the hamming radius — combs of disjoint tones differ by
    # ~17 bits while the same comb at lower volume is bit-identical
    # (the fingerprint's volume invariance)
    from clustering_spark.operators.audio_codec import make_wav_ex

    t = np.arange(8000) / 8000.0

    def comb(freqs):
        return sum(np.sin(2 * np.pi * f * t) for f in freqs) / (
            len(freqs) * 1.3
        )

    comb_a = comb([320, 450, 640, 900, 1270, 1800])
    wav_a = make_wav_ex(comb_a)
    wav_a2 = make_wav_ex(comb_a * 0.4)  # volume change: same print
    wav_b = make_wav_ex(comb([380, 540, 760, 1080, 1520, 2150, 3040]))

    prose = "The mill wheel turns all night under the cold stars."
    records = [
        ("response", "http://t.example/page", _page(prose)),
        ("response", "http://t.example/page-copy", _page(prose)),
        ("response", "http://m.example/a.png",
         make_http_response(img_a, content_type="image/png")),
        ("response", "http://m.example/a2.png",
         make_http_response(img_a2, content_type="image/png")),
        ("response", "http://m.example/b.png",
         make_http_response(img_b, content_type="image/png")),
        ("response", "http://m.example/a.wav",
         make_http_response(wav_a, content_type="audio/wav")),
        ("response", "http://m.example/a2.wav",
         make_http_response(wav_a2, content_type="audio/wav")),
        ("response", "http://m.example/b.wav",
         make_http_response(wav_b, content_type="audio/wav")),
    ]
    (tmp_path / "mm-00000.warc.gz").write_bytes(
        make_warc(records, gzip_members=True)
    )
    resp = warc_responses(read_warc(spark, str(tmp_path)))

    # text leg: unchanged capstone chain (extract -> dedup survivors)
    html = resp.filter(F.col("http_content_type").startswith("text/html"))
    docs = extract_html_text(html, "text", out_col="clean").select(
        "url", F.col("clean").alias("text")
    ).withColumn("doc_id", F.xxhash64("url"))
    text_surv = exact_dedup(docs, ["text"], "doc_id")
    assert text_surv.count() == 1  # page-copy collapsed

    # media leg: the binary responses through the survivor stage
    media = resp.filter(
        F.col("http_content_type").startswith("image/")
        | F.col("http_content_type").startswith("audio/")
    ).select("url", "record_idx", "body")
    kept = media_survivors(media, "body", "record_idx").toPandas()
    urls = set(kept.url)
    # one survivor per perceptual group (min record_idx), singletons kept
    assert "http://m.example/a.png" in urls
    assert "http://m.example/a2.png" not in urls
    assert "http://m.example/b.png" in urls
    assert "http://m.example/a.wav" in urls
    assert "http://m.example/a2.wav" not in urls
    assert "http://m.example/b.wav" in urls
    # survivors carry their component label; dup members collapsed
    assert len(kept) == 4
    assert (kept.component == kept.record_idx).all()  # min-id survivors
