"""Quality/property tests for the LLM-data operators (the parts a DuckDB
oracle can't check): LSH recall, simhash precision, multimodal plumbing."""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from sdc_spark.operators import dedup as sdedup
from sdc_spark.operators import multimodal as smm
from sdc_spark.operators import similarity as ssim
from sdc_spark.sources.readers import read_table


def test_ann_lsh_recall(spark, sf_dir):
    """Multi-probe hyperplane LSH must recover most of the exact top-5."""
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r.qid, r.nid) for r in ssim.ann_bruteforce_topk(emb, q, k=5).collect()}
    approx = {(r.qid, r.nid) for r in ssim.ann_lsh_topk(emb, q, k=5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_simhash_pairs_are_similar(spark, sf_dir):
    """SimHash candidates (hamming<=8) should overwhelmingly be true
    near-dups by n-gram Jaccard (precision check)."""
    doc = read_table(spark, sf_dir, "documents")
    sim = sdedup.simhash_near_dups(doc, "text", "doc_id", max_hamming=8)
    true_pairs = {
        (r.doc_a, r.doc_b)
        for r in sdedup.ngram_jaccard_pairs(doc, "text", "doc_id", threshold=0.5).collect()
    }
    sim_pairs = {(r.doc_a, r.doc_b) for r in sim.collect()}
    assert sim_pairs, "simhash found nothing"
    precision = len(sim_pairs & true_pairs) / len(sim_pairs)
    assert precision >= 0.8, f"simhash precision too low: {precision}"


def test_minhash_equals_exact(spark, sf_dir):
    """LSH-accelerated minhash output == exact all-pairs at threshold 0.8."""
    doc = read_table(spark, sf_dir, "documents")
    mh = {
        (r.doc_a, r.doc_b)
        for r in sdedup.minhash_lsh_pairs(doc, "text", "doc_id", threshold=0.8).collect()
    }
    exact = {
        (r.doc_a, r.doc_b)
        for r in sdedup.ngram_jaccard_pairs(doc, "text", "doc_id", threshold=0.8).collect()
    }
    assert mh == exact


def test_multimodal_stub_deterministic(spark, sf_dir):
    doc = read_table(spark, sf_dir, "documents").limit(50)
    feats = smm.decode_and_featurize(smm.attach_binary(doc, "text", "doc_id"))
    a = {r.id: (r.n_bytes, r.byte_mean, tuple(r.feat)) for r in feats.collect()}
    b = {r.id: (r.n_bytes, r.byte_mean, tuple(r.feat)) for r in feats.collect()}
    assert a == b
    assert all(len(v[2]) == 8 for v in a.values())


def test_multimodal_real_path_decodes_images_and_poisons_junk(spark, monkeypatch):
    """stub=False is now the REAL image path: a PNG payload yields decoded
    grayscale stats + an 8-dim bilinear thumbnail; non-image bytes yield
    null metrics (poison-pill), never an exception."""
    import numpy as np

    from sdc_spark.operators.multimodal import encode_png

    monkeypatch.setenv("SDC_CODEC_BACKEND", "numpy")
    px = np.full((4, 4, 3), 120, np.uint8)
    rows = [(0, encode_png(px)), (1, b"not an image at all")]
    df = spark.createDataFrame(rows, "id long, content binary")
    got = {r.id: r for r in smm.decode_and_featurize(df, stub=False).collect()}
    assert got[0].byte_mean == 120.0 and got[0].byte_std == 0.0
    assert len(got[0].feat) == 8 and all(abs(f - 120.0) < 1e-6 for f in got[0].feat)
    assert got[1].byte_mean is None and got[1].feat is None
    assert got[1].n_bytes == len(b"not an image at all")


def test_sample_frames_real_path_y4m(spark):
    """stub=False samples REAL Y4M frames: evenly spaced luma planes,
    bounded size; compressed payloads still raise (no library-free
    decode path)."""
    import numpy as np
    import pytest

    y = np.stack([np.full((4, 6), 10 * k, np.uint8) for k in range(5)])
    clip = smm.encode_y4m(y)
    df = spark.createDataFrame([(0, clip)], "id long, content binary")
    rows = sorted(
        smm.sample_frames(df, n_frames=3, frame_bytes=24, stub=False).collect(),
        key=lambda r: r.frame_idx,
    )
    assert [r.frame_idx for r in rows] == [0, 1, 2]
    # evenly spaced over 5 frames -> source frames 0, 2, 4 (luma 0/20/40)
    assert [bytes(r.frame)[0] for r in rows] == [0, 20, 40]
    assert all(len(r.frame) == 24 for r in rows)

    # clips SHORTER than n_frames emit every frame, including the last
    # (regression: the old n_frames-1 denominator collapsed a 2-frame
    # clip at n_frames=3 to just frame 0)
    y2 = np.stack([np.full((4, 6), 10 + 30 * k, np.uint8) for k in range(2)])
    df2 = spark.createDataFrame([(7, smm.encode_y4m(y2))], "id long, content binary")
    short = sorted(
        smm.sample_frames(df2, n_frames=3, frame_bytes=24, stub=False).collect(),
        key=lambda r: r.frame_idx,
    )
    assert [r.frame_idx for r in short] == [0, 1]
    assert [bytes(r.frame)[0] for r in short] == [10, 40]

    bad = spark.createDataFrame([(1, b"\x00\x00\x01mp4junk")], "id long, content binary")
    with pytest.raises(Exception, match="NotImplementedError|compressed video"):
        smm.sample_frames(bad, n_frames=2, stub=False).collect()


def test_multimodal_resize_and_frames(spark, sf_dir):
    """Resize emits exactly width*height bytes per row; frame sampling
    fans out n_frames rows per id with bounded frame size — both
    deterministic across runs (stub codecs, real plumbing)."""
    docs = read_table(spark, sf_dir, "documents").limit(50)
    binm = smm.attach_binary(docs, "text", "doc_id")

    resized = smm.resize_images(binm, width=16, height=16).collect()
    assert len(resized) == 50
    assert all(len(r.content) == 256 for r in resized)
    assert all(r.width == 16 and r.height == 16 for r in resized)

    frames = smm.sample_frames(binm, n_frames=3, frame_bytes=64)
    pdf = frames.toPandas()
    assert len(pdf) == 150
    assert set(pdf.frame_idx.unique()) == {0, 1, 2}
    assert pdf.frame.map(len).max() <= 64
    # deterministic: second run identical
    pdf2 = smm.sample_frames(binm, n_frames=3, frame_bytes=64).toPandas()
    assert pdf.frame.tolist() == pdf2.frame.tolist()


def test_ann_ivf_recall(spark, sf_dir):
    """IVF with nprobe=4/16 cells must recover most of the exact top-5 and
    be deterministic across runs (seeded centroids, tie-broken argmax)."""
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r.qid, r.nid) for r in ssim.ann_bruteforce_topk(emb, q, k=5).collect()}
    run1 = ssim.ann_ivf_topk(emb, q, k=5, n_cells=16, nprobe=4).collect()
    approx = {(r.qid, r.nid) for r in run1}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    run2 = {(r.qid, r.rank, r.nid) for r in ssim.ann_ivf_topk(emb, q, k=5, n_cells=16, nprobe=4).collect()}
    assert {(r.qid, r.rank, r.nid) for r in run1} == run2


def test_dedup_components_chain(spark):
    """Components must traverse chains (1-2, 2-3, 3-4 → one component
    labeled 1) and keep disjoint clusters apart."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "doc_a long, doc_b long",
    )
    got = {
        (r.doc, r.component) for r in sdedup.dedup_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_dupe_id_offset_collision_fails_loudly(spark, tmp_path):
    """A doc_id at or past DUPE_ID_OFFSET would make a re-injected copy
    alias a real id and let the release query's held-out guard
    (doc_id < DUPE_ID_OFFSET) silently drop the original: both the
    release pipeline and dedup_exact must raise instead."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    from sdc_spark.plans.llm_data import DUPE_ID_OFFSET, dedup_exact
    from sdc_spark.plans.pipeline_release import pipeline_dump_release

    spark.createDataFrame(
        [(10, "the quick brown fox"), (11, "jumps over the lazy dog"),
         (DUPE_ID_OFFSET + 50, "a held-out doc past the offset")],
        "doc_id long, text string",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    with pytest.raises(SparkRuntimeException, match="DUPE_ID_OFFSET"):
        pipeline_dump_release(spark, str(tmp_path)).collect()
    with pytest.raises(SparkRuntimeException, match="DUPE_ID_OFFSET"):
        dedup_exact(spark, str(tmp_path)).collect()


def test_pack_sequences_deterministic_and_exact(spark):
    """pack_sequences must be bit-identical across repeated runs (the
    round-2/3 driver flake class) and exactly match a pandas oracle.
    The integer-id path buckets by key VALUE, so the result cannot depend
    on partition layout or execution schedule."""
    import pandas as pd

    from sdc_spark.operators.curation import pack_sequences

    pdf = pd.DataFrame(
        {
            "doc_id": range(1, 401),
            "n_tok": [(i * 37) % 700 for i in range(400)],  # incl. zeros
        }
    )
    df = spark.createDataFrame(pdf)
    runs = [
        pack_sequences(df, "doc_id", "n_tok", budget=512)
        .toPandas()
        .sort_values("doc")
        .reset_index(drop=True)
        for _ in range(3)
    ]
    assert runs[0].equals(runs[1]) and runs[0].equals(runs[2])

    cum = pdf["n_tok"].cumsum()
    start = cum - pdf["n_tok"]
    exp_pack = (start // 512).astype("int64")
    exp_span = (pdf["n_tok"] > 0) & (exp_pack != ((cum - 1) // 512))
    got = runs[0]
    assert got["pack_id"].astype("int64").tolist() == exp_pack.tolist()
    assert got["offset"].astype("int64").tolist() == (start % 512).tolist()
    assert got["spans_boundary"].tolist() == exp_span.tolist()


def _make_bmp(w, h, rgb):
    """Minimal 24-bit bottom-up BMP with constant color."""
    import struct

    stride = (w * 3 + 3) & ~3
    raster = bytearray()
    row = bytes([rgb[2], rgb[1], rgb[0]] * w) + bytes(stride - w * 3)
    for _ in range(h):
        raster += row
    off = 54
    size = off + len(raster)
    hdr = struct.pack("<2sIHHI", b"BM", size, 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0)
    return hdr + info + bytes(raster)


def _make_wav(rate, n, amp=1000, ch=1):
    import struct

    import numpy as np

    t = np.arange(n * ch)
    samples = (amp * np.sign(np.sin(t * 0.5 + 0.25))).astype("<i2")
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
    riff_sz = 4 + (8 + len(fmt)) + (8 + len(data))
    return (
        b"RIFF" + struct.pack("<I", riff_sz) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_decode_bmp_real(spark):
    bmp = _make_bmp(5, 3, (200, 100, 50))
    df = spark.createDataFrame([(1, bytearray(bmp)), (2, bytearray(b"junk"))], "id long, content binary")
    rows = {r.id: r for r in smm.decode_bmp(df).collect()}
    r = rows[1]
    assert (r.width, r.height, r.bpp) == (5, 3, 24)
    assert (r.mean_r, r.mean_g, r.mean_b) == (200.0, 100.0, 50.0)
    assert rows[2].width is None  # poison pill -> nulls, not a failed batch


def test_decode_wav_real(spark):
    wav = _make_wav(8000, 4000, amp=1000)
    df = spark.createDataFrame([(1, bytearray(wav)), (2, bytearray(b"xx"))], "id long, content binary")
    rows = {r.id: r for r in smm.decode_wav(df).collect()}
    r = rows[1]
    assert (r.sample_rate, r.channels, r.bit_depth, r.n_samples) == (8000, 1, 16, 4000)
    assert abs(r.duration_s - 0.5) < 1e-9
    assert abs(r.rms - 1000.0) < 1.0  # square wave -> RMS == amplitude
    assert rows[2].sample_rate is None


def _phash_png():
    """A PNG whose 64-bit phash is not a double: it survives the Arrow
    stage only if the long column never passes through float64."""
    import numpy as np

    base = np.random.RandomState(0).randint(0, 256, (8, 8, 3)).astype(np.uint8)
    return smm.encode_png(np.repeat(np.repeat(base, 4, axis=0), 4, axis=1))


def _row_stage_cases():
    """stage name -> (stage over a {id, content} frame, one valid payload)."""
    import numpy as np

    from sdc_spark.operators.gif import gif_encode
    from sdc_spark.operators.jpeg import jpeg_encode

    px = np.full((8, 8, 3), 120, np.uint8)
    wav = _make_wav(8000, 400)
    y4m = smm.encode_y4m(np.stack([np.full((4, 6), 10 * k, np.uint8) for k in range(3)]))
    gif = gif_encode([np.zeros((3, 4), np.uint8)], np.array([[9, 8, 7], [0, 0, 0]], np.uint8))
    return {
        "bmp": (smm.decode_bmp, _make_bmp(5, 3, (200, 100, 50))),
        "wav": (smm.decode_wav, wav),
        "png": (smm.decode_png, smm.encode_png(px)),
        "jpeg": (lambda df: smm.decode_jpeg(df, backend="numpy"), jpeg_encode(px)),
        "gif": (smm.decode_gif, gif),
        "audio": (lambda df: smm.audio_features(df, backend="numpy"), wav),
        "phash": (lambda df: smm.image_phash(df, backend="numpy"), _phash_png()),
        "video": (lambda df: smm.video_frame_features(df, stride=2), y4m),
        "featurize": (
            lambda df: smm.decode_and_featurize(df, stub=False, backend="numpy"),
            smm.encode_png(px),
        ),
        "resize": (
            lambda df: smm.resize_images(df, 4, 4, stub=False, backend="numpy"),
            smm.encode_png(px),
        ),
        "frames": (lambda df: smm.sample_frames(df, 2, 24, stub=False, backend="numpy"), y4m),
    }


@pytest.mark.parametrize("stage", list(_row_stage_cases()))
def test_row_stage_poison_pill(spark, stage):
    """One valid and one junk payload in a single Arrow batch: the valid
    row decodes, the junk row yields its key and nulls (decode_and_
    featurize keeps n_bytes), and the batch goes on. A malformed Y4M in
    sample_frames(stub=False) is a null row, not a failed task."""
    run, payload = _row_stage_cases()[stage]
    # a Y4M magic, so sample_frames sees a malformed clip, not a codec it lacks
    junk = b"YUV4MPEG2 not a payload"
    df = spark.createDataFrame([(1, payload), (2, junk)], "id long, content binary").coalesce(1)
    rows = run(df).collect()
    good = [r.asDict() for r in rows if r.id == 1]
    (bad,) = [r.asDict() for r in rows if r.id == 2]
    assert good and all(list(g.values())[1] is not None for g in good)
    kept = {"id", "n_bytes"} if stage == "featurize" else {"id"}
    assert all(v is None for k, v in bad.items() if k not in kept), bad
    if stage == "phash":
        from sdc_spark.operators.codec_backend import decode_image_pixels

        want = smm.phash64(decode_image_pixels(payload, force="numpy"))
        assert int(float(want)) != want and good[0]["phash"] == want


def test_hll_sketches_merge_like_partials(spark, sf_dir):
    """Mergeable distinct-count sketches: union of per-slice HLL sketches
    must give the same estimate as one whole-data sketch (the property
    that makes incremental distinct-count maintenance possible), and land
    within a few percent of the exact count."""
    ev = read_table(spark, sf_dir, "events")
    whole = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")
    ).collect()[0]["est"]

    a = ev.filter(F.col("event_id") % 2 == 0).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    b = ev.filter(F.col("event_id") % 2 == 1).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = (
        a.unionByName(b)
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()[0]["est"]
    )
    exact = ev.select("user_id").distinct().count()
    assert merged == whole, (merged, whole)
    assert abs(merged - exact) / exact < 0.05, (merged, exact)


def test_ann_pq_recall(spark, sf_dir):
    """PQ/ADC with 8x16 codebooks + 4k exact re-rank must recover most of
    the exact top-5 and be deterministic across runs (seeded codebooks,
    tie-broken argmins)."""
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r.qid, r.nid) for r in ssim.ann_bruteforce_topk(emb, q, k=5).collect()}
    run1 = {(r.qid, r.nid) for r in ssim.ann_pq_topk(emb, q, k=5).collect()}
    run2 = {(r.qid, r.nid) for r in ssim.ann_pq_topk(emb, q, k=5).collect()}
    assert run1 == run2, "PQ output not deterministic"
    recall = len(exact & run1) / len(exact)
    assert recall >= 0.5, f"PQ recall too low: {recall}"


def test_incremental_dedup_equals_cross_pairs(spark, sf_dir):
    """Incremental screen (new batch vs existing index) == the cross-split
    subset of the full all-pairs near-dup answer."""
    doc = read_table(spark, sf_dir, "documents")
    existing = doc.filter(F.col("doc_id") % 5 != 0)
    new = doc.filter(F.col("doc_id") % 5 == 0)
    inc = {
        (r.corpus_doc, r.new_doc)
        for r in sdedup.incremental_near_dups(
            existing, new, "text", "doc_id", threshold=0.8
        ).collect()
    }
    full = sdedup.minhash_lsh_pairs(doc, "text", "doc_id", threshold=0.8).collect()
    cross = set()
    for r in full:
        if r.doc_a % 5 != 0 and r.doc_b % 5 == 0:
            cross.add((r.doc_a, r.doc_b))
        elif r.doc_b % 5 != 0 and r.doc_a % 5 == 0:
            cross.add((r.doc_b, r.doc_a))
    assert inc == cross


def test_pq_codebooks_full_grid_under_degenerate_seeds(spark):
    """A code with zero assigned vectors after the Lloyd step (forced here
    by making every vector identical, so ALL subvectors tie and the
    min(struct) tie-break funnels every assignment to one code) must keep
    its seed row: positional element_at lookups require the full
    (m x ksub) grid."""
    m, ksub, dim = 4, 8, 16
    rows = [(i, [1.0] * dim) for i in range(64)]
    v = spark.createDataFrame(rows, "nid long, nvec array<double>")
    books = ssim.pq_codebooks(v, dim=dim, m=m, ksub=ksub)
    got = books.groupBy("s").count().collect()
    assert {r["s"] for r in got} == set(range(m))
    assert all(r["count"] == ksub for r in got), got
    codes = {(r.s, r.code) for r in books.select("s", "code").collect()}
    assert codes == {(s, c) for s in range(m) for c in range(1, ksub + 1)}


def test_decode_png_real(spark):
    """Encode→decode round-trip across ALL five PNG filter types (the
    forward filters in encode_png and the un-filtering in decode_png are
    independent transforms) plus gray/RGBA channel semantics and the
    poison-pill path."""
    import numpy as np

    from sdc_spark.operators import multimodal as smm

    rng = np.random.RandomState(3)
    imgs = {
        # one image per filter type, RGB
        fid: rng.randint(0, 256, (7, 5, 3)).astype(np.uint8) for fid in range(5)
    }
    payloads = [
        (fid, smm.encode_png(px, filters=[fid] * px.shape[0]))
        for fid, px in imgs.items()
    ]
    # mixed filters in one image; grayscale; RGBA
    mixed = rng.randint(0, 256, (6, 4, 3)).astype(np.uint8)
    payloads.append((10, smm.encode_png(mixed, filters=[0, 1, 2, 3, 4, 2])))
    gray = rng.randint(0, 256, (3, 4, 1)).astype(np.uint8)
    payloads.append((11, smm.encode_png(gray)))
    rgba = rng.randint(0, 256, (4, 4, 4)).astype(np.uint8)
    payloads.append((12, smm.encode_png(rgba, filters=[4, 4, 1, 3])))
    payloads.append((13, b"\x89PNG\r\n\x1a\njunk"))  # poison pill
    df = spark.createDataFrame(payloads, "id long, content binary")
    rows = {r.id: r for r in smm.decode_png(df).collect()}
    for fid, px in imgs.items():
        r = rows[fid]
        assert (r.width, r.height, r.bit_depth, r.color_type) == (5, 7, 8, 2), fid
        np.testing.assert_allclose(
            [r.mean_r, r.mean_g, r.mean_b],
            [px[..., c].mean() for c in range(3)],
            rtol=1e-12,
        )
    r = rows[10]
    np.testing.assert_allclose(
        [r.mean_r, r.mean_g, r.mean_b],
        [mixed[..., c].mean() for c in range(3)],
        rtol=1e-12,
    )
    r = rows[11]
    assert r.color_type == 0
    np.testing.assert_allclose([r.mean_r, r.mean_g, r.mean_b], [gray.mean()] * 3, rtol=1e-12)
    r = rows[12]
    assert r.color_type == 6
    np.testing.assert_allclose(
        [r.mean_r, r.mean_g, r.mean_b],
        [rgba[..., c].mean() for c in range(3)],
        rtol=1e-12,
    )
    assert rows[13].width is None and rows[13].mean_r is None


def test_decode_jpeg_real(spark):
    """Baseline JPEG encode→decode through the Spark stage. The codec
    itself is pinned against an independent brute-force DCT in
    test_jpeg_codec.py; here: constant-color exactness at quality 75
    (q_dc == 8 makes the DC round-trip lossless), gradient closeness,
    grayscale, and the poison-pill path."""
    import numpy as np

    from sdc_spark.operators import multimodal as smm
    from sdc_spark.operators.jpeg import jpeg_encode

    payloads = []
    # constant color, quality 75: decoded means are EXACT
    const = np.full((11, 17, 3), 77, np.uint8)
    payloads.append((0, jpeg_encode(const, quality=75)))
    # smooth gradient at quality 95: means within 1
    x = np.arange(16)
    grad = np.broadcast_to(
        np.stack([40 + 3 * x, 90 + 2 * x, 140 + x], axis=1), (16, 16, 3)
    ).astype(np.uint8)
    payloads.append((1, jpeg_encode(grad, quality=95)))
    gray = np.full((8, 8, 1), 200, np.uint8)
    payloads.append((2, jpeg_encode(gray, quality=75)))
    payloads.append((3, b"\xff\xd8garbage"))
    df = spark.createDataFrame(payloads, "id long, content binary")
    rows = {r.id: r for r in smm.decode_jpeg(df).collect()}
    r = rows[0]
    assert (r.width, r.height, r.n_components) == (17, 11, 3)
    assert (r.mean_r, r.mean_g, r.mean_b) == (77.0, 77.0, 77.0)
    r = rows[1]
    for got, exp in zip(
        (r.mean_r, r.mean_g, r.mean_b),
        (grad[..., 0].mean(), grad[..., 1].mean(), grad[..., 2].mean()),
    ):
        assert abs(got - exp) < 1.0
    r = rows[2]
    assert r.n_components == 1 and r.mean_r == 200.0
    assert rows[3].width is None


def test_audio_features_real(spark):
    """FFT features pinned analytically: a pure sine at f0 has dominant
    frequency f0 and spectral centroid ~f0 (exact when n is a multiple of
    the period); a square wave at f0 has ZCR = 2*f0/rate."""
    import struct

    import numpy as np

    from sdc_spark.operators import multimodal as smm

    def wav(samples, rate=8000):
        data = samples.astype("<i2").tobytes()
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        riff = 4 + (8 + len(fmt)) + (8 + len(data))
        return (
            b"RIFF" + struct.pack("<I", riff) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )

    rate, n = 8000, 8000  # 1s -> bin width exactly 1 Hz
    t = np.arange(n)
    sine = (10000 * np.sin(2 * np.pi * 440 * t / rate)).round()
    square = np.where((t * 2 * 200 // rate) % 2 == 0, 9000, -9000)
    payloads = [(0, wav(sine)), (1, wav(square)), (2, b"RIFFjunk")]
    df = spark.createDataFrame(payloads, "id long, content binary")
    rows = {r.id: r for r in smm.audio_features(df).collect()}
    r = rows[0]
    assert r.sample_rate == 8000 and r.n_samples == 8000
    assert abs(r.dominant_freq_hz - 440.0) < 1e-9
    assert abs(r.spectral_centroid_hz - 440.0) < 1.0  # rounding leakage only
    assert abs(r.rms - np.sqrt((sine.astype(float) ** 2).mean())) < 1e-6
    r = rows[1]
    # square wave at 200 Hz: 400 sign flips/sec -> zcr = 400/7999-ish
    assert abs(r.zcr - 400.0 / 7999.0) < 1e-3
    assert abs(r.dominant_freq_hz - 200.0) < 1e-9
    assert rows[2].zcr is None


def test_image_phash_dedup(spark):
    """pHash invariance: the same image re-encoded (PNG vs BMP vs
    high-quality JPEG) maps to nearly-identical hashes (hamming <= 6),
    while a different image is far away (> 20)."""
    import numpy as np

    from sdc_spark.operators import multimodal as smm
    from sdc_spark.operators.jpeg import jpeg_encode

    rng = np.random.RandomState(1)
    base = np.repeat(np.repeat(rng.randint(0, 256, (8, 8, 3)), 8, axis=0), 8, axis=1).astype(np.uint8)
    other = np.repeat(np.repeat(rng.randint(0, 256, (8, 8, 3)), 8, axis=0), 8, axis=1).astype(np.uint8)

    def bmp(px):
        import struct

        h, w, _ = px.shape
        stride = (w * 3 + 3) & ~3
        raster = b"".join(
            px[y, :, ::-1].tobytes() + bytes(stride - w * 3) for y in range(h - 1, -1, -1)
        )
        hdr = struct.pack("<2sIHHI", b"BM", 54 + len(raster), 0, 0, 54)
        info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0)
        return hdr + info + raster

    payloads = [
        (0, smm.encode_png(base)),
        (1, bmp(base)),
        (2, jpeg_encode(base, quality=95)),
        (3, smm.encode_png(other)),
    ]
    df = spark.createDataFrame(payloads, "id long, content binary")
    rows = {r.id: r.phash for r in smm.image_phash(df).collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert rows[0] == rows[1]  # PNG and BMP decode identically -> same hash
    assert ham(rows[0], rows[2]) <= 6  # JPEG q95 is near-dup
    assert ham(rows[0], rows[3]) > 20  # different image far away


def test_video_frame_features_real(spark):
    """Y4M frame sampling pinned: a 5-frame C420 clip with per-frame
    constant luma 10k and constant chroma planes samples frames 0/2/4 at
    stride 2, with exact plane means and delta_prev = 20 between sampled
    frames; a mono clip yields null chroma; junk payloads yield nulls."""
    import numpy as np

    from sdc_spark.operators import multimodal as smm

    y = np.stack([np.full((4, 6), 10 * k, np.uint8) for k in range(5)])
    u = np.full((5, 2, 3), 77, np.uint8)
    v = np.full((5, 2, 3), 33, np.uint8)
    payloads = [
        (0, smm.encode_y4m(y, u, v)),
        (1, smm.encode_y4m(y[:2])),
        (2, b"YUV4MPEG2 junk"),
    ]
    df = spark.createDataFrame(payloads, "id long, content binary")
    rows = smm.video_frame_features(df, stride=2).collect()
    c420 = sorted((r for r in rows if r.id == 0), key=lambda r: r.frame_idx)
    assert [r.frame_idx for r in c420] == [0, 2, 4]
    assert all(r.n_frames == 5 and r.width == 6 and r.height == 4 for r in c420)
    assert [r.mean_y for r in c420] == [0.0, 20.0, 40.0]
    assert all(r.mean_u == 77.0 and r.mean_v == 33.0 for r in c420)
    assert [r.delta_prev for r in c420] == [None, 20.0, 20.0]
    mono = [r for r in rows if r.id == 1]
    assert len(mono) == 1 and mono[0].frame_idx == 0 and mono[0].mean_u is None
    junk = [r for r in rows if r.id == 2]
    assert len(junk) == 1 and junk[0].mean_y is None


def test_html_to_text_extraction(spark):
    """Pins the tricky extraction rules: script bodies containing markup
    ('</p>' inside a JS string must not leak), multi-line comments,
    entity decode ordering (&amp;lt; must become '&lt;' not '<'), and
    whitespace collapse."""
    from sdc_spark.functions.text import html_to_text

    cases = [
        (
            '<p>a</p><script>var s="</p>hidden";</script><p>b</p>',
            "a b",
        ),
        ("<!-- multi\nline\ncomment -->visible", "visible"),
        ("x &amp;lt; y", "x &lt; y"),  # decode &amp; LAST
        ("a&nbsp;&nbsp;b   c", "a b c"),
        ("<ul><li>one</li><li>two</li></ul>", "one two"),
        ("<H1 class='t'>Title</H1>body", "Title body"),
        # real crawls use uppercase/mixed-case tags: block drops must be
        # case-insensitive or the JS/CSS body leaks into the text
        ('<SCRIPT>var s="</p>leak";</SCRIPT>ok', "ok"),
        ("<Style TYPE='text/css'>p{color:red}</Style>ok", "ok"),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(cases)], "id long, html string"
    )
    got = {r.id: r.out for r in df.select("id", html_to_text("html").alias("out")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_canonical_url_rules(spark):
    """Pins each canonicalization rule: case, default ports, fragments,
    tracking-param removal, param sorting, trailing slash, empty path."""
    from sdc_spark.functions.text import canonical_url

    cases = [
        ("HTTPS://WWW.Ex.COM:443/P/?utm_source=x&b=2&a=1#f", "https://www.ex.com/P?a=1&b=2"),
        ("https://www.ex.com/P?a=1&b=2", "https://www.ex.com/P?a=1&b=2"),
        ("http://Ex.com:80/", "http://ex.com/"),
        ("http://ex.com", "http://ex.com/"),
        ("https://ex.com/p?fbclid=1&z=9&gclid=4", "https://ex.com/p?z=9"),
        ("https://ex.com/a/b/?z=9", "https://ex.com/a/b?z=9"),
        # default ports are scheme-specific: a MISMATCHED explicit port is
        # a different origin and must survive canonicalization
        ("http://ex.com:443/p", "http://ex.com:443/p"),
        ("https://ex.com:80/p", "https://ex.com:80/p"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "id long, url string"
    )
    got = {r.id: r.c for r in df.select("id", canonical_url("url").alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_cdc_chunks_resynchronize_after_edit(spark):
    """The property content-defined chunking exists for: inserting a
    token near the front of a document must change ONLY the chunk(s) up
    to the next rolling-hash boundary — every later chunk hash is
    unchanged (fixed-size chunking would shift them all). Also pins
    per-doc invariants: chunk indexes contiguous from 0, token counts
    sum to the doc's token count."""
    from sdc_spark.operators.dedup import content_defined_chunks

    words = " ".join(f"w{i % 97}x{i % 13}" for i in range(400))
    two = spark.createDataFrame(
        [(0, words), (1, "inserted " + words)], "doc_id long, text string"
    )
    ch = content_defined_chunks(two, "text", "doc_id").collect()
    by_doc = {0: [], 1: []}
    for r in ch:
        by_doc[r.doc].append(r)
    for d, rows in by_doc.items():
        idxs = sorted(r.chunk_idx for r in rows)
        assert idxs == list(range(len(rows))), (d, idxs)
    assert sum(r.n_tokens for r in by_doc[0]) == 400
    assert sum(r.n_tokens for r in by_doc[1]) == 401
    h0 = [r.chunk_hash for r in sorted(by_doc[0], key=lambda r: r.chunk_idx)]
    h1 = [r.chunk_hash for r in sorted(by_doc[1], key=lambda r: r.chunk_idx)]
    assert len(h0) >= 3, "fixture too short to show resynchronization"
    # the SUFFIX of chunk hashes must match: only the head chunk differs
    shared = set(h0) & set(h1)
    assert len(shared) >= len(h0) - 2, (h0, h1)
    assert h0[-1] == h1[-1]


def test_cdc_window_parameter_and_hash_order(spark):
    """The `window` parameter must actually widen the rolling hash (not
    just shift the warmup guard): different windows give different
    boundary sets over the same stream. The chunk hash must be
    order-sensitive (positional terms, not a token multiset) and the
    BIGINT-overflow guard must reject window > 7."""
    import pytest

    from sdc_spark.operators.dedup import content_defined_chunks

    words = " ".join(f"w{i % 89}y{i % 11}" for i in range(600))
    df = spark.createDataFrame([(0, words)], "doc_id long, text string")

    def boundaries(window):
        rows = content_defined_chunks(df, "text", "doc_id", window=window).collect()
        assert sum(r.n_tokens for r in rows) == 600
        return tuple(sorted((r.chunk_idx, r.n_tokens) for r in rows))

    b2, b4, b6 = boundaries(2), boundaries(4), boundaries(6)
    assert len({b2, b4, b6}) >= 2, "window parameter did not change the hash"

    with pytest.raises(ValueError, match="BIGINT"):
        content_defined_chunks(df, "text", "doc_id", window=8)

    # order sensitivity: same token multiset, reversed order -> the
    # positional chunk hash of the full stream must differ
    fwd = "alpha beta gamma delta"
    rev = "delta gamma beta alpha"
    pair = spark.createDataFrame(
        [(0, fwd), (1, rev)], "doc_id long, text string"
    )
    rows = content_defined_chunks(pair, "text", "doc_id").collect()
    hs = {r.doc: r.chunk_hash for r in rows if r.chunk_idx == 0}
    assert hs[0] != hs[1]
