"""Training-data pipeline: multimodal plumbing, streaming jobs, and unit
checks on the dedup/similarity primitives (the full oracle comparison runs
in test_workload_oracle.py)."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from treemachine_spark.functions import dedup, multimodal, similarity
from treemachine_spark.io.tables import load_tables
from treemachine_spark.streaming import events as stream_events


def test_multimodal_feature_extraction(spark):
    docs = load_tables(spark, SF_SMOKE)["documents"]
    media = multimodal.attach_media(docs.limit(20))
    feats = multimodal.extract_features(media, fake_decoder=True)
    rows = feats.collect()
    assert len(rows) == 20
    assert set(feats.columns) == {"media_id", "media_type", "n_bytes", "checksum", "feat_mean"}
    # deterministic fake decode: same input -> same checksum
    again = {r["media_id"]: r["checksum"] for r in multimodal.extract_features(media, True).collect()}
    assert all(again[r["media_id"]] == r["checksum"] for r in rows)


def test_multimodal_decode_unknown_codec_raises():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"bytes")  # neither PNG nor PPM magic


def _encode_png(w, h, ch, px, filters, palette=None):
    """Minimal test-side PNG writer with a CHOSEN filter per scanline —
    exercises every reconstruction branch of decode_png. px: flat uint8."""
    import struct
    import zlib

    import numpy as np

    def chunk(tag, body):
        c = struct.pack(">I", len(body)) + tag + body
        return c + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)

    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch] if palette is None else 3
    img = np.asarray(px, dtype=np.uint8).reshape(h, w * ch).astype(np.int32)
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        f = filters[y % len(filters)]
        cur, line = img[y], np.zeros(w * ch, dtype=np.int32)
        for x in range(w * ch):
            a = cur[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if f == 0:
                line[x] = cur[x]
            elif f == 1:
                line[x] = cur[x] - a
            elif f == 2:
                line[x] = cur[x] - b
            elif f == 3:
                line[x] = cur[x] - (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = cur[x] - pred
        raw.append(f)
        raw.extend((line & 0xFF).astype(np.uint8).tobytes())
        prev = img[y]
    out = multimodal.PNG_MAGIC + chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    )
    if palette is not None:
        out += chunk(b"PLTE", np.asarray(palette, dtype=np.uint8).tobytes())
    return out + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")


def test_png_decode_all_filters_roundtrip():
    import numpy as np

    rng = np.random.RandomState(7)
    for ch in (1, 2, 3, 4):
        px = rng.randint(0, 256, size=9 * 7 * ch, dtype=np.uint8)
        data = _encode_png(7, 9, ch, px, filters=[0, 1, 2, 3, 4])
        w, h, c, got = multimodal.decode_png(data)
        assert (w, h, c) == (7, 9, ch)
        assert np.array_equal(got, px)
        assert multimodal.decode_image(data) == px.tobytes()


def test_png_palette_expansion():
    import numpy as np

    palette = [(10, 20, 30), (200, 100, 0), (0, 0, 255)]
    idx = np.array([0, 1, 2, 2, 1, 0], dtype=np.uint8)
    data = _encode_png(3, 2, 1, idx, filters=[0], palette=palette)
    w, h, c, got = multimodal.decode_png(data)
    assert (w, h, c) == (3, 2, 3)
    assert got.reshape(-1, 3).tolist() == [list(palette[i]) for i in idx]


def test_ppm_roundtrip_and_ascii():
    import numpy as np

    px = np.arange(2 * 2 * 3, dtype=np.uint8) * 10
    data = multimodal.encode_ppm(2, 2, px)
    assert multimodal.decode_ppm(data)[3].tolist() == px.tolist()
    ascii_ppm = b"P3\n# comment\n2 2\n255\n" + b" ".join(
        str(v).encode() for v in px
    )
    assert multimodal.decode_ppm(ascii_ppm)[3].tolist() == px.tolist()


def test_real_fixture_files_decode_to_correct_dims():
    """r12 (VERDICT r11 #4): REAL checked-in fixture files — a structurally
    valid baseline JPEG (SOI/JFIF/DQT/SOF0/standard Annex-K DHTs/SOS/EOI,
    one uniform-gray MCU) and a real CRC-correct RGB PNG — parse to their
    true width/height/channels through the stdlib header/pixel paths."""
    import numpy as np

    fix = Path(__file__).parent / "fixtures"
    jpg = (fix / "tiny_gray_8x8.jpg").read_bytes()
    assert multimodal.decode_jpeg_header(jpg) == (8, 8, 1)
    assert multimodal.probe_image(jpg) == ("jpeg", 8, 8, 1)

    png = (fix / "tiny_rgb_5x3.png").read_bytes()
    assert multimodal.probe_image(png) == ("png", 5, 3, 3)
    w, h, c, px = multimodal.decode_png(png)
    assert (w, h, c) == (5, 3, 3)
    assert np.array_equal(px, np.load(fix / "tiny_rgb_5x3_pixels.npy"))

    # r14 (VERDICT r13 #7): JPEG pixel ENTROPY decode is native now — the
    # fixture's bitstream is DC-cat-0 + EOB under Annex-K tables, i.e.
    # analytically a uniform 128 plane (test_jpeg.py holds the richer
    # hand-packed coverage); GIF/BMP pixel decode stays the typed boundary
    assert multimodal.decode_image(jpg) == bytes([128] * 64)
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"GIF89a" + b"\x00" * 16)


def test_jpeg_header_marker_walk_edge_cases():
    """The SOF walk must skip fill bytes, standalone RST/TEM markers, and
    find progressive (SOF2) frames; SOS-before-SOF and truncated streams
    are typed errors."""
    import struct

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    sof2 = seg(0xC2, bytes([8]) + struct.pack(">HH", 480, 640) + bytes([3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]))
    noise = seg(0xE1, b"Exif\x00\x00" + bytes(10))  # APP1 to skip
    data = b"\xff\xd8" + b"\xff" + noise + b"\xff\xd0" + sof2  # fill + RST0
    assert multimodal.decode_jpeg_header(data) == (640, 480, 3)
    assert multimodal.probe_image(data) == ("jpeg", 640, 480, 3)

    with pytest.raises(ValueError, match="no SOF"):
        multimodal.decode_jpeg_header(b"\xff\xd8" + seg(0xDA, bytes([1, 1, 0, 0, 63, 0])))
    with pytest.raises(ValueError, match="not a JPEG"):
        multimodal.decode_jpeg_header(b"\x89PNG")


def test_probe_image_malformed_payloads_raise_valueerror():
    """r12 review: every malformed-payload path must raise ValueError —
    probe_media's passthrough catches exactly that, so a struct.error /
    KeyError escaping probe_image would fail the whole Spark stage on one
    corrupt blob in a 100 TB scan."""
    import struct
    import zlib

    for payload in (
        multimodal.PNG_MAGIC,                    # PNG magic only (truncated)
        b"GIF89a",                               # truncated GIF
        b"BM" + bytes(10),                       # truncated BMP
        b"\xff\xd8\xff\xc0\x00\x05\x08",         # JPEG cut inside its SOF
        b"P6\n# only a comment",                 # truncated PPM header
        b"P3\nxx yy\n255\n",                     # non-numeric PPM tokens
    ):
        with pytest.raises(ValueError):
            multimodal.probe_image(payload)

    def chunk(tag, body):
        c = struct.pack(">I", len(body)) + tag + body
        return c + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)

    bad_ctype = multimodal.PNG_MAGIC + chunk(
        b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 5, 0, 0, 0)
    )
    with pytest.raises(ValueError, match="color type"):
        multimodal.probe_image(bad_ctype)

    # PPM probe is header-only: a giant ASCII pixel section is never
    # tokenized (dims come straight from the header)
    assert multimodal.probe_image(b"P3\n40 30\n255\n" + b"0 " * 10) == (
        "ppm", 40, 30, 3)


def test_probe_image_implausible_dims_raise_valueerror():
    """r12 advice (medium): header-declared dims are untrusted — a PNG
    declaring 4294967295 wide or a PPM header with an arbitrary huge int
    must raise ValueError (probe_media's Int32 arrays would otherwise
    TypeError on the int64 overflow and fail the whole stage)."""
    import struct
    import zlib

    def chunk(tag, body):
        c = struct.pack(">I", len(body)) + tag + body
        return c + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)

    huge_png = multimodal.PNG_MAGIC + chunk(
        b"IHDR", struct.pack(">IIBBBBB", 0xFFFFFFFF, 2, 8, 2, 0, 0, 0)
    )
    for payload in (
        huge_png,
        b"P6\n99999999999 2\n255\n",   # the advice's exact repro
        b"P6\n0 5\n255\n",             # zero dim
    ):
        with pytest.raises(ValueError, match="dimensions"):
            multimodal.probe_image(payload)


def test_probe_media_huge_dims_blob_keeps_metadata(spark):
    """End-to-end: the huge-dims blob keeps its existing metadata instead
    of failing the Spark stage with an Int32-cast TypeError (the exact
    failure the r12 advice reproduced)."""
    rows = [
        (0, "image", bytearray(b"P6\n99999999999 2\n255\n"), 7, 9, None, None),
        (1, "image", bytearray(b"P6\n4 2\n255\n" + bytes(24)), None, None, None, None),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in multimodal.probe_media(media).collect()}
    assert (got[0]["width"], got[0]["height"]) == (7, 9)   # passthrough
    assert (got[1]["width"], got[1]["height"]) == (4, 2)   # sane blob enriched


def test_probe_image_bmp_header_variants():
    """r12 advice (low): BMP dims dispatch on the DIB header-size field —
    BITMAPCOREHEADER (size 12) carries 16-bit dims, the INFOHEADER family
    32-bit signed; unknown variants raise instead of mis-parsing."""
    import struct

    def bmp(dib_size, dims):
        return b"BM" + bytes(12) + struct.pack("<I", dib_size) + dims + bytes(8)

    core = bmp(12, struct.pack("<HH", 17, 13))
    assert multimodal.probe_image(core) == ("bmp", 17, 13, 3)
    info = bmp(40, struct.pack("<ii", 33, -44))  # top-down: negative height
    assert multimodal.probe_image(info) == ("bmp", 33, 44, 3)
    v5 = bmp(124, struct.pack("<ii", 5, 6))
    assert multimodal.probe_image(v5) == ("bmp", 5, 6, 3)
    with pytest.raises(ValueError, match="DIB header"):
        multimodal.probe_image(bmp(26, struct.pack("<ii", 5, 6)))


def test_decode_jpeg_header_truncated_sof_is_valueerror():
    """r12 advice (low): a stream cut inside the SOF payload or a length
    field must raise the documented ValueError from decode_jpeg_header
    itself, not a struct.error that only probe_image masks."""
    for payload in (
        b"\xff\xd8\xff\xc0\x00\x05\x08",   # cut inside SOF payload
        b"\xff\xd8\xff\xc0\x00",           # cut inside the length field
    ):
        with pytest.raises(ValueError, match="JPEG"):
            multimodal.decode_jpeg_header(payload)


def test_probe_media_null_and_corrupt_content_pass_through(spark):
    """r12 review: NULL content reaches the Arrow batch as None
    (bytes(None) would TypeError) and corrupt payloads raise typed
    ValueErrors — both must keep the row's existing metadata, never fail
    the stage."""
    rows = [
        (0, "image", None, 11, 12, None, None),                 # NULL blob
        (1, "image", bytearray(multimodal.PNG_MAGIC), 21, 22, None, None),
        (2, "image", bytearray(b"GIF89a"), 31, 32, None, None),  # truncated
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in multimodal.probe_media(media).collect()}
    assert (got[0]["width"], got[0]["height"]) == (11, 12)
    assert (got[1]["width"], got[1]["height"]) == (21, 22)
    assert (got[2]["width"], got[2]["height"]) == (31, 32)


def test_probe_media_enriches_dims_and_passes_unknown_through(spark):
    """probe_media fills width/height from content headers (PNG + JPEG)
    over mapInPandas and leaves unknown containers' metadata untouched;
    the output schema stays MEDIA_SCHEMA so downstream ops compose."""
    fix = Path(__file__).parent / "fixtures"
    jpg = (fix / "tiny_gray_8x8.jpg").read_bytes()
    png = (fix / "tiny_rgb_5x3.png").read_bytes()
    rows = [
        (0, "image", bytearray(jpg), None, None, None, None),
        (1, "image", bytearray(png), None, None, None, None),
        (2, "image", bytearray(b"not an image"), 99, 98, None, None),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in multimodal.probe_media(media).collect()}
    assert (got[0]["width"], got[0]["height"]) == (8, 8)
    assert (got[1]["width"], got[1]["height"]) == (5, 3)
    assert (got[2]["width"], got[2]["height"]) == (99, 98)  # passthrough
    assert multimodal.probe_media(media).schema == media.schema


def test_real_feature_extraction_and_resize(spark):
    """Real-bytes path end-to-end: PNG media column -> decoded features and
    nearest-neighbor resize, all executor-side via mapInPandas."""
    import numpy as np

    rng = np.random.RandomState(3)
    rows = []
    for mid in range(4):
        px = rng.randint(0, 256, size=8 * 6 * 3, dtype=np.uint8)
        rows.append(
            (mid, "image", bytearray(_encode_png(6, 8, 3, px, filters=[0, 1, 2, 3, 4])), 6, 8, None, None)
        )
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in multimodal.extract_features(media, fake_decoder=False).collect()}
    for mid, _, content, *_ in rows:
        px = multimodal.decode_png(bytes(content))[3]
        assert feats[mid]["checksum"] == int(px.sum()) % 2_147_483_647
        assert feats[mid]["feat_mean"] == int(px.sum() / px.size)
    small = multimodal.resize_images(media, 3, 4).collect()
    for r in small:
        w, h, c, px = multimodal.decode_ppm(bytes(r["content"]))
        assert (r["width"], r["height"], w, h, c) == (3, 4, 3, 4, 3)
    # resize of a resize is stable (idempotent at same dims)
    again = multimodal.resize_images(
        spark.createDataFrame(small, multimodal.MEDIA_SCHEMA), 3, 4
    ).collect()
    assert {r["media_id"]: bytes(r["content"]) for r in again} == {
        r["media_id"]: bytes(r["content"]) for r in small
    }


def test_frame_sampling(spark):
    media = spark.createDataFrame(
        [(1, "video", bytearray(b"x"), None, None, None, 25)], multimodal.MEDIA_SCHEMA
    )
    frames = multimodal.frame_sample_stub(media, every_n=10).collect()
    assert [r["frame_idx"] for r in frames] == [0, 10, 20]


def test_lsh_recall_vs_brute(spark):
    """ANN sanity: LSH bucket results are a subset of candidates whose
    bucket matches; overlap with exact top-10 should be nonzero."""
    emb = load_tables(spark, SF_SMOKE)["embeddings"]
    q = emb.where(F.col("vec_id") < 5)
    brute = similarity.brute_force_topk(emb, q, k=10).collect()
    lsh = similarity.lsh_topk(emb, q, k=10).collect()
    brute_pairs = {(r["query_id"], r["neighbor_id"]) for r in brute}
    lsh_pairs = {(r["query_id"], r["neighbor_id"]) for r in lsh}
    assert lsh_pairs  # buckets are non-degenerate
    # every query's own bucket contains itself -> its LSH hits score
    # identically to brute hits when they overlap
    scores_b = {(r["query_id"], r["neighbor_id"]): r["score"] for r in brute}
    for r in lsh:
        key = (r["query_id"], r["neighbor_id"])
        if key in scores_b:
            assert scores_b[key] == r["score"]


def test_brute_topk_partial_batch_pruning_equal(spark):
    """r14 optimization pin: brute_force_topk's Arrow pass emits only each
    batch's top-(k+1) candidates per query, ranked by the final window's
    exact total order (guide §2.3 — aggregate before you shuffle). With
    k=3 and 7-row Arrow batches the pruning branch (batch > k+1 rows)
    fires at every batch boundary — including equal-score ties resolved
    by neighbor_id — and must produce exactly the same rows as the
    default single-big-batch run over the same corpus."""
    emb = load_tables(spark, SF_SMOKE)["embeddings"]
    q = emb.where(F.col("vec_id") < 5)
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        tiny = similarity.brute_force_topk(emb, q, k=3).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    big = similarity.brute_force_topk(emb, q, k=3).collect()
    assert sorted(map(tuple, tiny)) == sorted(map(tuple, big))


def test_filtered_ann_brute_is_filter_then_topk(spark):
    """VERDICT r13 #4: ``where=`` on brute_force_topk means filter-THEN-
    rank (the predicate lands on the corpus scan), identical to running
    the operator over a pre-filtered corpus — and demonstrably NOT
    post-filtering, which under-fills k."""
    emb = load_tables(spark, SF_SMOKE)["embeddings"]
    q = emb.where(F.col("vec_id") < 5)
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    filtered = similarity.brute_force_topk(emb, q, k=10, where="label = 7")
    prefiltered = similarity.brute_force_topk(
        emb.where(F.col("label") == 7), q, k=10
    )
    assert rows(filtered) == rows(prefiltered)
    # where= accepts a Column too
    assert rows(
        similarity.brute_force_topk(emb, q, k=10, where=F.col("label") == 7)
    ) == rows(filtered)
    # post-filtering the unfiltered top-10 under-fills: ~1/10 of corpus
    # rows carry label 7, so an unfiltered top-10 keeps ~1 matching row
    post = similarity.brute_force_topk(emb, q, k=10).join(
        emb.where(F.col("label") == 7).select(F.col("vec_id").alias("neighbor_id")),
        "neighbor_id",
    )
    per_q = {r["query_id"]: r["n"] for r in
             post.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    fil_q = {r["query_id"]: r["n"] for r in
             filtered.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    assert all(per_q.get(qid, 0) < n for qid, n in fil_q.items())


@pytest.mark.slow
def test_filtered_ann_ivf_and_pq_cell_scan_filter(spark):
    """Filtered IVF / IVF-PQ: cells stay filter-independent (built on the
    FULL corpus), the predicate restricts the cell scan. Every neighbor
    matches; scores are the exact quantized dots (rerank path); ranks are
    gapless 1..n per query (no post-filter holes); a cells artifact built
    WITHOUT the metadata column fails analysis loudly instead of silently
    post-filtering."""
    from treemachine_spark.functions import pq as pqmod

    emb = load_tables(spark, SF_SMOKE)["embeddings"]
    q = emb.where(F.col("vec_id") < 5)
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    exact_scores = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in similarity.brute_force_topk(
            emb, q, k=500, where="label = 7"
        ).collect()
    }

    ivf = similarity.ivf_topk(emb, q, k=10, where="label = 7").collect()
    assert ivf and all(labels[r["neighbor_id"]] == 7 for r in ivf)
    assert all(exact_scores[(r["query_id"], r["neighbor_id"])] == r["score"]
               for r in ivf)
    by_q: dict[int, list[int]] = {}
    for r in ivf:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())

    codebook = pqmod.pq_train(emb, m=8, n_codes=16, iters=2, train_rows=None)
    pq_hits = pqmod.ivf_pq_topk(
        emb, q, k=10, codebook=codebook, rerank=True, rerank_factor=10,
        where="label = 7",
    ).collect()
    assert pq_hits and all(labels[r["neighbor_id"]] == 7 for r in pq_hits)
    # rerank returns exact quantized dots — comparable to brute's scores
    assert all(exact_scores[(r["query_id"], r["neighbor_id"])] == r["score"]
               for r in pq_hits)

    # meta-less cells artifact + filter -> loud analysis failure
    bare_cells = similarity.ivf_cells(emb)
    with pytest.raises(Exception, match="(?i)label|column|resolve"):
        similarity.ivf_topk(emb, q, k=10, cells=bare_cells, where="label = 7")


def test_cosine_pairs_size_guard(spark):
    """VERDICT r5 #2: the all-pairs exact cosine baseline is size-gated.
    Above max_vectors it raises TooManyPairsError (naming the banded twin)
    instead of launching a quadratic BroadcastNestedLoopJoin; at/below the
    guard — and with the guard disabled — results are unchanged."""
    emb = load_tables(spark, SF_SMOKE)["embeddings"]  # 500 vectors
    with pytest.raises(similarity.TooManyPairsError, match="lsh"):
        similarity.cosine_near_dup_pairs(emb, max_vectors=499)
    guarded = similarity.cosine_near_dup_pairs(emb, max_vectors=500)
    unguarded = similarity.cosine_near_dup_pairs(emb, max_vectors=None)
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert rows(guarded) == rows(unguarded) and len(guarded.columns) == 3


def test_streaming_windowed_counts_matches_batch(spark):
    stream = stream_events.read_event_stream(spark, SF_SMOKE)
    agg = stream_events.windowed_counts(stream)
    result = stream_events.run_to_memory(agg, "win_counts", output_mode="complete")

    from treemachine_spark.workload.pipeline_queries import q_s1_event_windows

    batch = q_s1_event_windows(spark, SF_SMOKE)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in result.collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    assert got == want


def test_event_timestamps_land_in_realistic_years(spark):
    """Unit-agnosticism tripwire: whatever physical timestamp type the
    driver regenerates testdata with (NANOS-as-long, micros, ...), both the
    batch and streaming readers must land events in real years — the r2
    regression silently put every streamed event in 1970."""
    from pyspark.sql import functions as F

    from treemachine_spark.io.tables import load_tables

    batch_year = (
        load_tables(spark, SF_SMOKE)["events"]
        .agg(F.min(F.year("ts")))
        .first()[0]
    )
    assert batch_year > 2000, f"batch events read into year {batch_year}"
    stream = stream_events.read_event_stream(spark, SF_SMOKE)
    got = stream_events.run_to_memory(
        stream.select(F.year("ts").alias("y")), "year_check_events"
    )
    stream_year = got.agg(F.min("y")).first()[0]
    assert stream_year > 2000, f"streamed events read into year {stream_year}"


def test_streaming_from_directory_parquet(spark, tmp_path):
    """The events source may be a Spark-written DIRECTORY of part files
    (derived scale sets), not just the driver's single file — the stream
    must see every row (regression: whole-dir symlink read 0 rows)."""
    from treemachine_spark.io.tables import load_tables

    sf_dir = tmp_path / "sfdir"
    sf_dir.mkdir()
    events = load_tables(spark, SF_SMOKE)["events"]
    n = events.count()
    events.repartition(3).write.parquet(str(sf_dir / "events.parquet"))
    stream = stream_events.read_event_stream(spark, str(sf_dir))
    got = stream_events.run_to_memory(
        stream.select("event_id"), "dir_stream_events"
    ).count()
    assert got == n


def test_streaming_sliding_windows_match_batch(spark):
    """The sliding-window streaming job must equal its batch twin (s5)."""
    stream = stream_events.read_event_stream(spark, SF_SMOKE)
    agg = stream_events.windowed_counts(stream, window="2 hours", slide="1 hour")
    result = stream_events.run_to_memory(agg, "slide_counts", output_mode="complete")

    from treemachine_spark.workload.pipeline_queries import q_s5_sliding_windows

    batch = q_s5_sliding_windows(spark, SF_SMOKE)
    key = lambda r: (r["window_start"], r["event_type"])  # noqa: E731
    got = {key(r): (r["n_events"], r["total_value"]) for r in result.collect()}
    want = {key(r): (r["n_events"], r["total_value"]) for r in batch.collect()}
    assert got == want


def test_streaming_dedup(spark):
    stream = stream_events.read_event_stream(spark, SF_SMOKE)
    deduped = stream_events.streaming_dedup(stream).select("event_id")
    result = stream_events.run_to_memory(deduped, "dedup_events")
    n = result.count()
    batch_n = load_tables(spark, SF_SMOKE)["events"].select("event_id").distinct().count()
    assert n == batch_n


@pytest.mark.slow
def test_sessionize(spark):
    stream = stream_events.read_event_stream(spark, SF_SMOKE)
    sessions = stream_events.sessionize(stream, gap_minutes=30)
    # ProcessingTimeTimeout variant: after the data batches commit the
    # query lingers awaiting a wall-clock timeout batch — stop-after-wait
    # is the contract here (see run_to_memory), not a truncated result
    result = stream_events.run_to_memory(
        sessions, "sessions", await_seconds=45, allow_timeout_stop=True
    )
    # availableNow + processing-time timeout: only sessions closed by a
    # subsequent event in the same run are emitted; shape check
    assert set(result.columns) == {
        "user_id", "session_start", "session_end", "n_events", "total_value",
    }
    rows = result.collect()
    for r in rows:
        assert r["session_end"] >= r["session_start"]
        assert r["n_events"] >= 1


@pytest.mark.slow
def test_stream_stream_join_matches_batch(spark):
    stream = stream_events.read_event_stream(spark, SF_SMOKE)
    joined = stream_events.stream_stream_click_purchase_join(stream)
    result = stream_events.run_to_memory(joined, "ss_join")
    got = {(r["p_event"], r["c_event"]) for r in result.collect()}

    from treemachine_spark.workload.queries import q_j4_range_join

    want = {
        (r["p_event"], r["c_event"])
        for r in q_j4_range_join(spark, SF_SMOKE).collect()
    }
    assert got == want


def test_grouped_agg_udaf_matches_jvm_percentile(spark):
    """UDF-surface demo: an Arrow-batched GROUPED_AGG pandas UDAF computes
    the same exact median as the JVM percentile() that the served
    x4_lang_stats query uses (the UDAF materializes each group's series on
    one executor, so the served path stays JVM-side; this test keeps the
    GROUPED_AGG member of the UDF surface exercised)."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    from treemachine_spark.functions import text

    # explicit functionType: `from __future__ import annotations` turns type
    # hints into strings, which pandas_udf's hint inference can't read
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def exact_median(v):
        return float(v.median())

    d = load_tables(spark, SF_SMOKE)["documents"]
    toks = d.select("lang", text.token_count(F.col("text")).alias("n"))
    got = {
        r["lang"]: r["m"]
        for r in toks.groupBy("lang").agg(exact_median("n").alias("m")).collect()
    }
    want = {
        r["lang"]: r["m"]
        for r in toks.groupBy("lang")
        .agg(F.expr("CAST(percentile(n, 0.5) AS DOUBLE)").alias("m"))
        .collect()
    }
    assert got == want


@pytest.mark.slow
def test_connected_components_chain_bounded_rounds(spark, monkeypatch):
    """Large-star/small-star must collapse a 10k-node chain in O(log^2 n)
    rounds — min-label propagation would need 10k rounds (this is the
    long-chain case its docstring flags). Differential-checked against the
    label-prop baseline on a mixed graph."""
    from treemachine_spark.functions.dedup import (
        connected_components,
        connected_components_labelprop,
    )

    n = 10_000
    chain = spark.range(n - 1).select(
        F.col("id").cast("string").alias("doc_a"),
        (F.col("id") + 1).cast("string").alias("doc_b"),
    )
    # measured convergence is ~log2(n)+1 round-pairs (11 rounds for a
    # 1024-chain): cap at 20 — label-prop would need ~10k rounds.
    # DRIVER_MAX_PAIRS=0 forces the distributed star loop (r14: the driver
    # union-find tier would otherwise absorb a 10k-edge graph)
    monkeypatch.setattr(dedup, "DRIVER_MAX_PAIRS", 0)
    comp = connected_components(chain, max_rounds=20).collect()
    assert len(comp) == n
    assert {r["component"] for r in comp} == {"0"}

    # differential vs baseline on chains + a star + a triangle + isolates-free pairs
    pairs = chain.limit(50).unionByName(
        spark.createDataFrame(
            [("s", f"s{i}") for i in range(20)] + [("x", "y"), ("y", "z"), ("z", "x")],
            "doc_a string, doc_b string",
        )
    )
    a = {
        (r["node_id"], r["component"])
        for r in connected_components(pairs).collect()
    }
    b = {(r["node_id"], r["component"]) for r in connected_components_labelprop(pairs).collect()}
    assert a == b


def test_connected_components_driver_tier_matches(spark, monkeypatch):
    """r14: the size-gated driver union-find tier returns EXACTLY the star
    loop's rows (same component = min-member-id semantics, same schema) on
    chain + star + cycle + random graphs, for string and long ids."""
    import random

    from treemachine_spark.functions.dedup import connected_components

    rng = random.Random(14)
    rand_pairs = [(rng.randrange(200), rng.randrange(200)) for _ in range(300)]
    cases = [
        ([(i, i + 1) for i in range(50)], "long"),  # chain
        ([(0, i) for i in range(1, 30)], "long"),  # star
        ([(0, 1), (1, 2), (2, 0), (7, 7)], "long"),  # cycle + self-pair
        (rand_pairs, "long"),
        ([(f"d{a}", f"d{b}") for a, b in rand_pairs], "string"),
    ]
    for pairs_py, typ in cases:
        df = spark.createDataFrame(pairs_py, f"doc_a {typ}, doc_b {typ}")
        via_driver = connected_components(df)
        with monkeypatch.context() as m:
            m.setattr(dedup, "DRIVER_MAX_PAIRS", 0)  # force the star loop
            via_star = connected_components(df)
        assert via_driver.dtypes == via_star.dtypes
        assert {tuple(r) for r in via_driver.collect()} == {
            tuple(r) for r in via_star.collect()
        }


def test_connected_components_null_endpoints_both_tiers(spark, monkeypatch):
    """r14 review: the distributed tier's ``u != v`` predicate NULL-drops
    any row with a NULL endpoint (NULL comparison -> NULL -> filtered); the
    driver union-find tier must mirror that — None used to enter the parent
    dict and break the ``<`` root comparison against real ids."""
    pairs = spark.createDataFrame(
        [("a", "b"), (None, "c"), ("d", None), ("e", "e"), (None, None)],
        "doc_a string, doc_b string",
    )
    via_driver = {
        tuple(r) for r in dedup.connected_components(pairs).collect()
    }
    monkeypatch.setattr(dedup, "DRIVER_MAX_PAIRS", 0)  # force the star loop
    via_star = {tuple(r) for r in dedup.connected_components(pairs).collect()}
    assert via_driver == via_star == {("a", "a"), ("b", "a")}


def test_ngram_jaccard_degenerate_hot_branch_matches_literal(spark):
    """r14 review: past HOT_LITERAL_MAX hot shingles the cap switches from
    driver-literal forms (broadcast createDataFrame anti-join +
    array_intersect sizes) to fully distributed ones (anti-join against the
    df table + explode/agg sizes). Force the degenerate branch at a tiny
    corpus and pin it row-equal to the literal path."""
    docs = spark.createDataFrame(
        [
            # "a b c" is the hot shingle (df 3 > cap 2); each doc keeps
            # one private shingle plus a shared rare one
            (1, "a b c x y z"),
            (2, "a b c x y w"),
            (3, "a b c q r s"),
        ],
        "doc_id long, text string",
    )
    lit_rows = {
        tuple(r)
        for r in dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.0,
                                           max_doc_freq=2).collect()
    }
    orig = dedup.HOT_LITERAL_MAX
    dedup.HOT_LITERAL_MAX = 0
    try:
        dist_rows = {
            tuple(r)
            for r in dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.0,
                                               max_doc_freq=2).collect()
        }
    finally:
        dedup.HOT_LITERAL_MAX = orig
    assert lit_rows == dist_rows and lit_rows  # non-vacuous


def test_cosine_pairs_zero_norm_matches_oracle(spark):
    """r14 review: a vector whose components all quantize to 0 gives a 0/0
    cosine. Verified engine semantics (recorded in the v4 implementation
    comment): DuckDB's division yields NULL and ``NULL >= t`` filters the
    row; Spark's default-ANSI division would RAISE DIVIDE_BY_ZERO if the
    pair reached codegen. The Arrow prefilter drops the pair (NaN fails
    ``>= cut``) — matching the oracle AND keeping the zero denominator out
    of the codegen divide. Pin v4 and the one-cell v7 shape against the
    inline DuckDB twin on a corpus containing a zero vector."""
    import duckdb
    import pandas as pd

    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),  # near-dup of 1
        (3, [0.0, 0.0, 0.0, 0.0]),  # zero vector: 0/0 cosine
        (4, [-1.0, 0.5, 0.0, 0.0]),  # below threshold vs everything
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got_v4 = {
        (r["id_a"], r["id_b"], r["cos"])
        for r in similarity.cosine_near_dup_pairs(emb, max_vectors=10).collect()
    }
    got_v7 = {
        (r["id_a"], r["id_b"], r["cos"])
        for r in similarity.semantic_dedup_pairs(emb, n_centroids=1).collect()
    }
    con = duckdb.connect()
    con.register(
        "emb",
        pd.DataFrame(
            {"vec_id": [v[0] for v in vecs], "embedding": [v[1] for v in vecs]}
        ),
    )
    cosexpr = (
        "ROUND(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v))"
        " * sqrt(list_dot_product(b.v, b.v))), 4)"
    )
    want = {
        tuple(r)
        for r in con.execute(
            "WITH base AS (SELECT vec_id, list_transform(embedding,"
            " x -> round(CAST(x AS DOUBLE) * 1000)) AS v FROM emb) "
            f"SELECT a.vec_id, b.vec_id, {cosexpr} AS cos "
            f"FROM base a JOIN base b ON a.vec_id < b.vec_id "
            f"WHERE {cosexpr} >= 0.4"
        ).fetchall()
    }
    con.close()
    assert got_v4 == want and got_v7 == want
    assert want  # non-vacuous: the real near-dup pair survives
    assert not any(3 in (a, b) for a, b, _ in want)  # zero vector dropped


def test_exactness_baseline_guards(spark):
    """VERDICT r6 #8 guard-consistency sweep: every quadratic or
    driver-bound exactness baseline carries the v4-style size gate —
    brute_force_topk's broadcast QUERY side, node_distance's
    driver-resident pair list, mrp_text's driver-side dense pivot — each
    raising an error that names its scale twin, each with an explicit
    opt-out, each unchanged below the gate."""
    emb = load_tables(spark, SF_SMOKE)["embeddings"]  # 500 vectors
    q = emb.where(F.col("vec_id") < 5)

    # brute_force_topk: corpus-as-queries trips the guard
    with pytest.raises(similarity.TooManyPairsError, match="ivf_topk"):
        similarity.brute_force_topk(emb, emb, k=5, max_queries=499)
    ok = similarity.brute_force_topk(emb, q, k=5, max_queries=5).collect()
    off = similarity.brute_force_topk(emb, q, k=5, max_queries=None).collect()
    assert sorted(map(tuple, ok)) == sorted(map(tuple, off)) and ok

    # ngram_jaccard_pairs: the exact shingle self-join's candidate volume
    # (sum of C(df, 2) over shingles — 13.9 BILLION at /tmp/sf10, where it
    # died opaquely on disk instead of raising; r11) is gated BEFORE the
    # join, naming the capped/probe/banded scale twins
    docs = load_tables(spark, SF_SMOKE)["documents"]
    with pytest.raises(
        similarity.TooManyPairsError, match="minhash_near_dup_pairs"
    ):
        dedup.ngram_jaccard_pairs(docs, threshold=0.3, max_candidates=100)
    j_ok = dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    j_off = dedup.ngram_jaccard_pairs(
        docs, threshold=0.3, max_candidates=None
    ).collect()
    assert sorted(map(tuple, j_ok)) == sorted(map(tuple, j_off)) and j_ok

    # node_distance: pair-list bound is a pure len() check (no Spark job)
    from treemachine_spark.graph import compare

    pairs = [("a", "b")] * 3
    with pytest.raises(ValueError, match="pair TABLE"):
        compare.node_distance(None, pairs, max_pairs=2)

    # mrp_text: dense pivot guarded by a LIMIT-bounded sparse-cell probe
    from treemachine_spark.exporters import exports
    from treemachine_spark.ingest import ingest_synthesis_data
    from pathlib import Path

    fix = Path(__file__).parent / "fixtures"
    store = ingest_synthesis_data(
        spark,
        str(fix / "labelled_supertree.tre"),
        str(fix / "annotations.json"),
        str(fix / "taxonomy.tsv"),
    )
    with pytest.raises(exports.MRPTooBigError, match="mrp_matrix"):
        exports.mrp_text(store, max_cells=1)
    txt_g = exports.mrp_text(store, max_cells=10_000_000)
    txt_off = exports.mrp_text(store, max_cells=None)
    assert txt_g == txt_off and txt_g.splitlines()[0].split()[0].isdigit()


def test_jaccard_probe_matches_batch_restriction(spark):
    """r8: ngram_jaccard_probe == ngram_jaccard_pairs filtered to pairs
    touching the probe set (identical shingle space and rows), with the
    request-scale guard on the probe size. The probe plan is linear in
    the corpus — the shape that still runs where the batch recipe's
    pair-shingle intermediate is box-bound (sf10 sweep)."""
    from treemachine_spark.functions.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_probe,
    )
    from treemachine_spark.io.tables import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    probe = list(range(15))
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_probe(docs, probe).collect()
    }
    batch = ngram_jaccard_pairs(docs, threshold=0.3)
    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in batch.where(
            F.col("doc_a").isin(probe) | F.col("doc_b").isin(probe)
        ).collect()
    }
    assert got == want and want  # non-vacuous on the fixture corpus

    with pytest.raises(ValueError, match="empty probe_ids"):
        ngram_jaccard_probe(docs, [])
    with pytest.raises(ValueError, match="request-scale"):
        ngram_jaccard_probe(docs, list(range(10_001)))

    # the stop-shingle cap mirrors the batch twin exactly (capped-space
    # Jaccard: sizes recomputed over the surviving shingles)
    got_c = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_probe(docs, probe, max_doc_freq=3).collect()
    }
    want_c = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(docs, threshold=0.3, max_doc_freq=3)
        .where(F.col("doc_a").isin(probe) | F.col("doc_b").isin(probe))
        .collect()
    }
    assert got_c == want_c
    assert got_c != want  # the cap actually changed the shingle space


def test_jaccard_lookup_matches_probe(spark):
    """r8: ngram_jaccard_lookup (query texts NOT required to be corpus
    members — the decontamination shape) agrees with the probe when the
    query IS a corpus member's text: self-match at 1.0 plus exactly the
    probe's partner pairs; a novel text matches nothing above threshold;
    guards."""
    from treemachine_spark.functions.dedup import (
        ngram_jaccard_lookup,
        ngram_jaccard_probe,
    )
    from treemachine_spark.io.tables import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    texts = [
        r["text"] for r in docs.where(F.col("doc_id") < 3).orderBy("doc_id").collect()
    ]
    got: dict[int, set] = {0: set(), 1: set(), 2: set()}
    for r in ngram_jaccard_lookup(docs, texts).collect():
        got[r["query_idx"]].add((r["doc_id"], r["jaccard"]))
    pairs = ngram_jaccard_probe(docs, [0, 1, 2]).collect()
    for qi in (0, 1, 2):
        want = {(qi, 1.0)} | {
            (r["doc_a"] + r["doc_b"] - qi, r["jaccard"])
            for r in pairs
            if qi in (r["doc_a"], r["doc_b"])
        }
        assert got[qi] == want, qi

    novel = ngram_jaccard_lookup(
        docs, ["entirely novel words nowhere in the corpus at all"]
    ).collect()
    assert novel == []

    with pytest.raises(ValueError, match="empty texts"):
        ngram_jaccard_lookup(docs, [])
    with pytest.raises(ValueError, match="request-scale"):
        ngram_jaccard_lookup(docs, ["x"] * 10_001)


def test_jaccard_precomputed_index_equivalence(spark):
    """r9: probe/lookup given a precomputed shingle_index (the DedupIndex
    serving artifact — r8 verdict's ivf_cells-for-dedup item) return rows
    identical to the inline build: the index is pure factoring of the
    corpus Arrow pass, never a semantic knob."""
    from treemachine_spark.functions.dedup import (
        ngram_jaccard_lookup,
        ngram_jaccard_probe,
        shingle_index,
    )
    from treemachine_spark.io.tables import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    idx = shingle_index(docs).cache()
    try:
        probe = list(range(15))
        inline = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in ngram_jaccard_probe(docs, probe).collect()
        }
        indexed = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in ngram_jaccard_probe(docs, probe, index=idx).collect()
        }
        assert inline == indexed and inline
        texts = [
            r["text"]
            for r in docs.where(F.col("doc_id") < 2).orderBy("doc_id").collect()
        ]
        a = {
            (r["query_idx"], r["doc_id"], r["jaccard"])
            for r in ngram_jaccard_lookup(docs, texts).collect()
        }
        b = {
            (r["query_idx"], r["doc_id"], r["jaccard"])
            for r in ngram_jaccard_lookup(docs, texts, index=idx).collect()
        }
        assert a == b and a
    finally:
        idx.unpersist()


def test_text_profile_arrow_matches_catalyst(spark):
    """r9 (r8 verdict bench item): the Arrow profile fast path returns
    rows IDENTICAL to the pure-Catalyst HOF form — including the
    engine-semantics edge cases the Python twin must reproduce (Spark
    trim strips ASCII spaces only; Java \\s is ASCII whitespace; ''
    splits to [''], so every doc has >= 1 token)."""
    from treemachine_spark.functions.text import text_profile
    from treemachine_spark.io.tables import load_tables

    edge = spark.createDataFrame(
        [
            (9001, ""),
            (9002, "   "),
            (9003, "\tthe quick fox"),
            (9004, "the la und der die el les"),
            (9005, "word"),
            (9006, "a  b\t\tc\nd"),
            (9007, " padded with spaces "),
            # NULL text (r9 ADVICE): both paths must yield NULL
            # n_tokens/quality/fingerprint and 'und' lang
            (9008, None),
        ],
        "doc_id long, text string",
    )
    docs = (
        load_tables(spark, "/root/testdata/sf0.001")["documents"]
        .select("doc_id", "text")
        .unionByName(edge)
    )
    arrow = {r["doc_id"]: tuple(r)[1:] for r in text_profile(docs).collect()}
    legacy = {
        r["doc_id"]: tuple(r)[1:]
        for r in text_profile(docs, use_arrow=False).collect()
    }
    assert arrow == legacy and len(arrow) == docs.count()
    # schema parity too (the gate hashes dtypes)
    assert text_profile(docs).dtypes == text_profile(docs, use_arrow=False).dtypes


@pytest.mark.slow
def test_persisted_shingle_index_roundtrip_append_and_serving(spark, tmp_path):
    """r9: the dedup family's persisted index artifact
    (write_shingle_index / read_shingle_index / shingle_index_append —
    the write_pq_index twin): bucket layout round-trips, probe/lookup
    against the on-disk index (bucket-pruned) return rows identical to
    the inline build, append == full derivation, and a DedupIndex loaded
    from the artifact answers exactly like the in-memory one."""
    from treemachine_spark.functions.dedup import (
        ngram_jaccard_lookup,
        ngram_jaccard_probe,
        read_shingle_index,
        shingle_index,
        shingle_index_append,
        write_shingle_index,
    )
    from treemachine_spark.io.tables import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"].cache()
    out = str(tmp_path / "shidx")
    n = write_shingle_index(docs, out, n_buckets=32)
    idx, meta, stop = read_shingle_index(spark, out)
    k, nb = meta["k"], meta["n_buckets"]
    assert (k, nb) == (3, 32) and stop is None
    assert meta["corpus"]["n_docs"] == docs.count()
    inline = shingle_index(docs)
    assert n == idx.count() == inline.count()
    assert dict(idx.dtypes)["bucket"] == "bigint"

    probe = list(range(15))
    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_probe(docs, probe).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_probe(
            docs, probe, index=idx, index_n_buckets=nb
        ).collect()
    }
    assert got == want and want
    texts = [
        r["text"]
        for r in docs.where(F.col("doc_id") < 2).orderBy("doc_id").collect()
    ]
    a = {
        (r["query_idx"], r["doc_id"], r["jaccard"])
        for r in ngram_jaccard_lookup(docs, texts).collect()
    }
    b = {
        (r["query_idx"], r["doc_id"], r["jaccard"])
        for r in ngram_jaccard_lookup(
            docs, texts, index=idx, index_n_buckets=nb
        ).collect()
    }
    assert a == b and a

    # append == full derivation (same bucket layout, stored k)
    half = docs.where(F.col("doc_id") % 2 == 0)
    rest = docs.where(F.col("doc_id") % 2 == 1)
    out2 = str(tmp_path / "shidx_grow")
    write_shingle_index(half, out2, n_buckets=32)
    appended = shingle_index_append(rest, out2)
    assert appended == shingle_index(rest).count()
    grown, meta2, _ = read_shingle_index(spark, out2)
    assert meta2["corpus"]["n_docs"] == docs.count()  # append extends the fingerprint
    full_rows = {tuple(r) for r in idx.collect()}
    assert {tuple(r) for r in grown.collect()} == full_rows

    # served equality: artifact-backed DedupIndex == in-memory DedupIndex
    from treemachine_spark.api.dedup import DedupIndex

    mem = DedupIndex(docs)
    disk = DedupIndex(docs, index_dir=out)
    assert disk.n_buckets == 32 and disk.k == 3
    for req in ({"doc_ids": [7, 8]}, {"texts": [texts[0]]}):
        assert disk.duplicates(**req) == mem.duplicates(**req)

    # cli artifact build smoke (same layout)
    from treemachine_spark import cli

    out3 = str(tmp_path / "shidx_cli")
    assert cli.main(
        ["dedupbuild", "/root/testdata/sf0.001", out3, "--n-buckets", "16"]
    ) == 0
    _, meta3, _ = read_shingle_index(spark, out3)
    assert (meta3["k"], meta3["n_buckets"]) == (3, 16)


def test_persisted_minhash_index_roundtrip_and_append(spark, tmp_path):
    """r9: the minhash LSH index persists like the PQ / exact-Jaccard
    artifacts (write_minhash_index / read_minhash_index /
    minhash_index_append): near-dup pairs computed from the stored table
    (minhash_near_dup_pairs(sig=)) equal the inline build, and an
    appended index equals one written for the full corpus (the fixed
    affine permutations make appended rows bit-compatible by
    construction)."""
    from treemachine_spark.functions.dedup import (
        minhash_index_append,
        minhash_near_dup_pairs,
        read_minhash_index,
        write_minhash_index,
    )
    from treemachine_spark.io.tables import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"].cache()
    out = str(tmp_path / "mhidx")
    n = write_minhash_index(docs, out)
    stored, k = read_minhash_index(spark, out)
    assert n == docs.count() and k == 3
    assert set(stored.columns) == {"doc_id", "sig", "sh"}

    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_near_dup_pairs(docs).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_near_dup_pairs(docs, sig=stored.cache()).collect()
    }
    assert got == want and want

    # append == full derivation
    out2 = str(tmp_path / "mhidx_grow")
    write_minhash_index(docs.where(F.col("doc_id") % 2 == 0), out2)
    appended = minhash_index_append(docs.where(F.col("doc_id") % 2 == 1), out2)
    grown, _ = read_minhash_index(spark, out2)
    assert appended + (n - appended) == grown.count() == n
    full_rows = {
        (r["doc_id"], tuple(r["sig"]), tuple(sorted(r["sh"])))
        for r in stored.collect()
    }
    grown_rows = {
        (r["doc_id"], tuple(r["sig"]), tuple(sorted(r["sh"])))
        for r in grown.collect()
    }
    assert grown_rows == full_rows

    # cli smoke: same layout
    from treemachine_spark import cli

    out3 = str(tmp_path / "mhidx_cli")
    assert cli.main(["minhashbuild", "/root/testdata/sf0.001", out3]) == 0
    idx3, k3 = read_minhash_index(spark, out3)
    assert k3 == 3 and idx3.count() == n


@pytest.mark.slow
def test_jaccard_probe_paths_randomized_differential(spark, tmp_path):
    """r9: all four probe/lookup execution paths (inline, cached index,
    bucket-pruned disk index, and the batch restriction) agree on
    randomized duplicate-heavy corpora — small vocab forces shared
    shingles, short docs exercise the whole-text-shingle branch."""
    import random

    from treemachine_spark.functions.dedup import (
        ngram_jaccard_lookup,
        ngram_jaccard_pairs,
        ngram_jaccard_probe,
        read_shingle_index,
        shingle_index,
        write_shingle_index,
    )

    vocab = [f"w{i}" for i in range(12)]
    for seed in range(3):
        rng = random.Random(seed)
        base = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 18)))
            for _ in range(40)
        ]
        # 20 near-duplicates: copies of base docs with one word appended —
        # guaranteed high-jaccard pairs, ids 40..59 duplicating 0..19
        rows = [(i, t) for i, t in enumerate(base)] + [
            (40 + j, base[j] + " " + rng.choice(vocab)) for j in range(20)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        probe = [0, 1, 2, 3, 59]
        thr = 0.25

        inline = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in ngram_jaccard_probe(docs, probe, threshold=thr).collect()
        }
        batch = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in ngram_jaccard_pairs(docs, threshold=thr).collect()
            if r["doc_a"] in probe or r["doc_b"] in probe
        }
        idx = shingle_index(docs).cache()
        cached = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in ngram_jaccard_probe(
                docs, probe, threshold=thr, index=idx
            ).collect()
        }
        d = str(tmp_path / f"ridx{seed}")
        write_shingle_index(docs, d, n_buckets=8)
        disk, dmeta, _ = read_shingle_index(spark, d)
        nb = dmeta["n_buckets"]
        bucketed = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in ngram_jaccard_probe(
                docs, probe, threshold=thr, index=disk, index_n_buckets=nb
            ).collect()
        }
        assert inline == batch == cached == bucketed, seed
        assert inline  # duplicate-heavy by construction — non-vacuous

        texts = [base[0], "novel words nowhere present"]
        li = {
            (r["query_idx"], r["doc_id"], r["jaccard"])
            for r in ngram_jaccard_lookup(docs, texts, threshold=thr).collect()
        }
        lb = {
            (r["query_idx"], r["doc_id"], r["jaccard"])
            for r in ngram_jaccard_lookup(
                docs, texts, threshold=thr, index=disk, index_n_buckets=nb
            ).collect()
        }
        assert li == lb and (0, 0, 1.0) in li, seed
        idx.unpersist()


@pytest.mark.slow
def test_capped_shingle_artifact_end_to_end(spark, tmp_path):
    """r10 (r9 verdict #2): the capped-space dedup artifact.
    write_shingle_index(max_doc_freq=) bakes the d7 shingle space into
    the bucketed layout (stop shingles dropped, stored sizes recomputed,
    stoplist persisted); probe/lookup with index-derived sizes reproduce
    the inline capped batch/probe EXACTLY; the cap actually bites
    (capped != uncapped); mixing driver-side shingling with a capped
    artifact raises (the r9 verdict's named trap); the corpus
    fingerprint binds the artifact to its docs snapshot; appends reuse
    the write-time space and extend the fingerprint; a served DedupIndex
    boots off the capped artifact."""
    import random

    from treemachine_spark.functions.dedup import (
        _py_shingles,
        check_corpus_fingerprint,
        ngram_jaccard_lookup,
        ngram_jaccard_pairs,
        ngram_jaccard_probe,
        read_shingle_index,
        shingle_index_append,
        write_shingle_index,
    )

    vocab = [f"w{i}" for i in range(12)]
    rng = random.Random(7)
    base = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 18)))
        for _ in range(40)
    ]
    # hot boilerplate prefix makes real stop shingles (df = 60 > cap)
    rows = [(i, "the common boiler plate " + t) for i, t in enumerate(base)] + [
        (40 + j, "the common boiler plate " + base[j] + " " + rng.choice(vocab))
        for j in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cap, thr = 20, 0.25
    d = str(tmp_path / "capidx")
    write_shingle_index(docs, d, n_buckets=8, max_doc_freq=cap)
    idx, meta, stop = read_shingle_index(spark, d)
    assert meta["max_doc_freq"] == cap and stop is not None
    assert stop.count() > 0  # the cap bit — non-vacuous
    assert meta["corpus"] == {"n_docs": 60, "max_doc_id": 59}

    probe = [0, 1, 2, 3, 59]
    capped_kw = dict(
        index=idx, index_n_buckets=meta["n_buckets"],
        index_max_doc_freq=cap, index_stoplist=stop,
    )
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_probe(
            docs, probe, threshold=thr, **capped_kw
        ).collect()
    }
    batch = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(
            docs, threshold=thr, max_doc_freq=cap
        ).collect()
        if r["doc_a"] in probe or r["doc_b"] in probe
    }
    inline = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_probe(
            docs, probe, threshold=thr, max_doc_freq=cap
        ).collect()
    }
    uncapped = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_probe(docs, probe, threshold=thr).collect()
    }
    assert got == batch == inline and got
    assert got != uncapped  # the cap changes answers on this corpus

    # capped lookup vs an engine-independent python twin over the same space
    texts = [rows[0][1], "the common boiler plate", "novel words here"]
    lk = {
        (r["query_idx"], r["doc_id"], r["jaccard"])
        for r in ngram_jaccard_lookup(
            docs, texts, threshold=thr, **capped_kw
        ).collect()
    }
    stopped = {r["s"] for r in stop.collect()}
    doc_sh = {
        i: set(_py_shingles(t, 3)) - stopped for i, t in rows
    }
    want = set()
    for qi, t in enumerate(texts):
        qsh = set(_py_shingles(t, 3)) - stopped
        for i, sh in doc_sh.items():
            inter = len(qsh & sh)
            union = len(qsh | sh)
            if union and inter / union >= thr:
                want.add((qi, i, round(inter / union, 4)))
    assert lk == want and lk

    # mixing guards: cap declared without stoplist / stoplist without cap /
    # cap-on-cap all raise instead of silently inflating |A|
    import pytest as _pytest

    for kw in (
        dict(index=idx, index_max_doc_freq=cap),
        dict(index=idx, index_stoplist=stop),
        dict(index=idx, index_max_doc_freq=cap, index_stoplist=stop,
             max_doc_freq=5),
    ):
        with _pytest.raises(ValueError):
            ngram_jaccard_probe(docs, probe, **kw)
    with _pytest.raises(ValueError):
        ngram_jaccard_lookup(docs, texts, index=idx, index_max_doc_freq=cap)

    # corpus fingerprint: drifted docs fail loudly at boot
    from treemachine_spark.api.dedup import DedupIndex

    with _pytest.raises(ValueError):
        DedupIndex(docs.where(F.col("doc_id") < 50), index_dir=d)

    # served: capped-artifact DedupIndex answers == library operator
    disk = DedupIndex(docs, index_dir=d)
    assert disk.max_doc_freq == cap and disk.stoplist is not None
    resp = disk.duplicates(doc_ids=probe, threshold=thr)
    served = {
        (probe[qi], e["doc_id"], e["jaccard"])
        for qi, lst in enumerate(resp["results"])
        for e in lst
    }
    want_served = set()
    for a, b, j in got:
        if a in probe:
            want_served.add((a, b, j))
        if b in probe:
            want_served.add((b, a, j))
    assert served == want_served

    # append reuses the write-time capped space and extends the fingerprint
    d2 = str(tmp_path / "capidx_grow")
    half = docs.where(F.col("doc_id") % 2 == 0)
    rest = docs.where(F.col("doc_id") % 2 == 1)
    write_shingle_index(half, d2, n_buckets=8, max_doc_freq=cap)
    shingle_index_append(rest, d2)
    idx2, meta2, stop2 = read_shingle_index(spark, d2)
    assert meta2["corpus"] == {"n_docs": 60, "max_doc_id": 59}
    check_corpus_fingerprint(docs, meta2, "append")
    stopped2 = {r["s"] for r in stop2.collect()}
    # appended rows = rest's shingles minus the stored (write-time) stoplist
    rest_rows = {
        (i, s)
        for i, t in rows
        if i % 2 == 1
        for s in set(_py_shingles(t, 3)) - stopped2
    }
    got_rest = {
        (r["doc_id"], r["s"])
        for r in idx2.where(F.col("doc_id") % 2 == 1).collect()
    }
    assert got_rest == rest_rows


@pytest.mark.slow
def test_snapshot_reload_sees_cross_process_append(spark, tmp_path):
    """r12 sharded-soak regression: Spark caches a path's file listing
    per-session forever (metadataCacheTTLSeconds=-1), so a DedupIndex /
    shingle-artifact reload after an append from ANOTHER process read the
    stale listing and tripped the boot fingerprint check. The loaders now
    refreshByPath first. Simulated here with a pyarrow write, which
    bypasses Spark's own cache invalidation exactly like a second
    process would."""
    import pyarrow as pa
    import pyarrow.parquet as pq_arrow

    from treemachine_spark.api.dedup import DedupIndex
    from treemachine_spark.functions.dedup import write_shingle_index
    from treemachine_spark.io.tables import load_tables

    docs = load_tables(spark, SF_SMOKE)["documents"].select("doc_id", "text")
    docs_path = str(tmp_path / "docs.parquet")
    docs.write.parquet(docs_path)
    idx_dir = str(tmp_path / "idx")
    write_shingle_index(spark.read.parquet(docs_path), idx_dir)

    # boot once so this session caches both paths' file listings
    idx0 = DedupIndex.from_path(spark, docs_path, index_dir=idx_dir)
    n0 = idx0.docs.count()

    # "another process" appends one doc to the corpus AND its shingle
    # rows to the artifact: write both via pyarrow (no Spark invalidation)
    new_id = docs.agg(F.max("doc_id")).first()[0] + 1
    new_text = "qq zz appended row"
    pq_arrow.write_table(
        pa.table({"doc_id": pa.array([new_id], pa.int64()),
                  "text": pa.array([new_text])}),
        f"{docs_path}/part-appended.parquet",
    )
    # shingle_index_append runs through Spark but in THIS session — to
    # keep the artifact consistent it must also see the meta bump, so
    # run it on an explicit one-row frame (its own write invalidates the
    # artifact path for this session; the DOCS listing stays stale, which
    # is the bug under test)
    from treemachine_spark.functions.dedup import shingle_index_append

    one = spark.createDataFrame([(int(new_id), new_text)], "doc_id long, text string")
    shingle_index_append(one, idx_dir)

    fresh = DedupIndex.from_path(spark, docs_path, index_dir=idx_dir)
    assert fresh.docs.count() == n0 + 1  # stale listing would say n0
    # and the appended doc resolves at exact similarity through the index
    hits = fresh.duplicates(texts=[new_text])["results"][0]
    assert any(m["doc_id"] == new_id and m["jaccard"] == 1.0 for m in hits)


def test_simhash_arrow_equals_catalyst(spark):
    """r14: the Arrow-batched simhash_profile returns signatures IDENTICAL
    to the pure-Catalyst simhash32 HOF form — including the engine-
    semantics edges (ASCII-space-only trim, '' -> [''] one empty token,
    NBSP is NOT Java \\s whitespace, NULL text NULL-propagates)."""
    from treemachine_spark.io.tables import load_tables

    edge = spark.createDataFrame(
        [
            (9001, ""),
            (9002, "   "),
            (9003, "\tthe quick fox"),
            (9004, "word"),
            (9005, "a  b\t\tc\nd"),
            (9006, " padded with spaces "),
            (9007, "nbsp\u00a0joined tokens"),
            (9008, "rep rep rep rep unique"),
            (9009, None),
        ],
        "doc_id long, text string",
    )
    docs = (
        load_tables(spark, SF_SMOKE)["documents"]
        .select("doc_id", "text")
        .unionByName(edge)
    )
    arrow = {r["doc_id"]: r["simhash"] for r in dedup.simhash_profile(docs).collect()}
    legacy = {
        r["doc_id"]: r["simhash"]
        for r in docs.select(
            "doc_id", dedup.simhash32(F.col("text")).alias("simhash")
        ).collect()
    }
    assert arrow == legacy and len(arrow) == docs.count()
    assert arrow[9009] is None
    # schema parity (the gate hashes dtypes)
    assert dict(dedup.simhash_profile(docs).dtypes)["simhash"] == "bigint"
