"""Multimodal plumbing + LSH ANN tests."""

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.multimodal import (
    attach_binary,
    extract_features,
)
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.similarity import (
    brute_force_topk,
    hyperplanes,
    lsh_topk,
)
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.sources.readers import (
    read_parquet_table,
)

from conftest import SF_SMOKE


def test_attach_binary_schema(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="abc", source="s", n_chars=3)])
    out = attach_binary(docs)
    types = dict(out.dtypes)
    assert types["blob"] == "binary"
    assert types["meta"].startswith("struct<")
    r = out.first()
    assert bytes(r["blob"]) == b"abc"
    assert r["meta"]["mime"] == "text/plain"


def test_extract_features_deterministic(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="abc", source="s", n_chars=3), Row(doc_id=2, text="", source="s", n_chars=0)]
    )
    rows = {r["doc_id"]: r for r in extract_features(attach_binary(docs)).collect()}
    assert rows[1]["byte_len"] == 3
    assert rows[1]["first_byte"] == ord("a")
    assert rows[1]["checksum"] == (ord("a") + ord("b") + ord("c")) % 997
    assert rows[1]["decode_status"] == "stub"
    assert rows[2]["decode_status"] == "empty"


def test_lsh_ann_recall_vs_brute_force(spark):
    """LSH top-k is approximate; sanity: candidates only from matching
    buckets, ranks well-formed, and recall@5 vs brute force is non-trivial."""
    emb = read_parquet_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    qs = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    exact = brute_force_topk(emb, qs, k=5).collect()
    approx = lsh_topk(emb, qs, k=5, planes=hyperplanes(8, 64, 0), bands=2).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx_sets = {}
    for r in approx:
        assert r["query_id"] != r["neighbor_id"]
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(approx_sets) <= set(exact_sets)
    hits = sum(len(exact_sets[q] & approx_sets.get(q, set())) for q in exact_sets)
    total = sum(len(s) for s in exact_sets.values())
    assert hits / total > 0.15  # random-chance would be ~5/500 = 1%


def test_vectorized_topk_equals_expression_topk(spark):
    """q64's BLAS kernel must produce exactly q39's rows (same round-4
    cosines, same tie-breaks) — the fast path is not allowed to drift."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import (
        QUERIES,
    )

    a = sorted(map(tuple, QUERIES["q39_embedding_topk"](spark, SF_SMOKE).collect()))
    b = sorted(map(tuple, QUERIES["q64_embedding_topk_vectorized"](spark, SF_SMOKE).collect()))
    assert a == b


def test_resize_and_frame_sample_plumbing(spark):
    from pyspark.sql import Row

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.multimodal import (
        attach_binary,
        sample_frames,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="abcdefgh" * 10, source="s", n_chars=80),
         Row(doc_id=2, text="xy", source="s", n_chars=2)]
    )
    blobs = attach_binary(docs)

    frames = sample_frames(blobs, n_frames=4).collect()
    per_doc = {}
    for r in frames:
        per_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    assert sorted(per_doc[1]) == [0, 1, 2, 3]  # fan-out: 1 row -> 4 frames
    assert sorted(per_doc[2]) == [0, 1]  # payload shorter than n_frames


def test_kmeans_ivf_recall_on_clustered_corpus(spark):
    """On geometrically clustered data (the regime IVF exists for), learned
    cells + nprobe=2 must recover exact top-k — r1's label-cells scored
    recall 0.205 because labels were not geometric clusters."""
    import numpy as np

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        kmeans_fit,
    )

    rs = np.random.RandomState(7)
    centers = rs.standard_normal((4, 16)) * 5
    rows = []
    for i in range(200):
        c = i % 4
        v = centers[c] + rs.standard_normal(16) * 0.3
        rows.append((i, [float(round(x, 4)) for x in v]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qs = emb.where(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    cents = kmeans_fit(emb, k=4, max_iter=6)
    exact = {
        (r["query_id"], r["rnk"]): r["neighbor_id"]
        for r in brute_force_topk(emb, qs, k=5).collect()
    }
    got = {
        (r["query_id"], r["rnk"]): r["neighbor_id"]
        for r in ivf_topk(emb, qs, cents, k=5, nprobe=2).collect()
    }
    hits = sum(1 for key in exact if got.get(key) == exact[key])
    assert hits == len(exact), f"recall {hits}/{len(exact)}"


def test_kmeans_fit_deterministic_across_partitionings(spark):
    """Integer-quantized sums make the fit independent of data layout —
    the property that lets the DuckDB oracle replay it, and that makes the
    operator reproducible on any cluster size."""
    import numpy as np

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.similarity import (
        kmeans_fit,
    )

    rs = np.random.RandomState(3)
    rows = [(i, [float(round(x, 4)) for x in rs.standard_normal(8)]) for i in range(100)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    c1 = kmeans_fit(emb, k=3, max_iter=4)
    c2 = kmeans_fit(emb.repartition(13), k=3, max_iter=4)
    assert c1 == c2


def test_vectorized_topk_rejects_oversized_query_set(spark, monkeypatch):
    """The collected query matrix is capped — a fact-sized query table must
    raise instead of OOMing the driver."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators import similarity as S

    emb = spark.range(20).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=1) for _ in range(4)]).alias("embedding"),
    )
    qs = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    monkeypatch.setattr(S, "_MAX_DRIVER_QUERIES", 10)
    with pytest.raises(ValueError, match="query set exceeds"):
        S.brute_force_topk_vectorized(emb, qs, k=3)


#: two cells (both probed at nprobe=3) and a 2-subspace PQ over 4-d
#: vectors, in QUANT_SCALE micro-units — enough for the IVF and IVF-PQ
#: kernels to run on the hand-made corpus below
_ZN_CELLS = [[1_000_000, 0, 0, 0], [0, 1_000_000, 0, 0]]
_ZN_BOOKS = [[[0, 0], [1_000_000, 0], [0, 1_000_000]]] * 2

_ZERO_NORM_KERNELS = {
    "brute_force_topk": lambda S, e, q: S.brute_force_topk(e, q, k=3),
    "brute_force_topk_vectorized": lambda S, e, q: S.brute_force_topk_vectorized(e, q, k=3),
    "ivf_topk": lambda S, e, q: S.ivf_topk(e, q, _ZN_CELLS, k=3),
    "ivf_topk_vectorized": lambda S, e, q: S.ivf_topk_vectorized(e, q, _ZN_CELLS, k=3),
    "ivf_pq_rerank_topk": lambda S, e, q: S.ivf_pq_rerank_topk(e, q, _ZN_CELLS, _ZN_BOOKS, k=3),
    "ivf_pq_rerank_topk_vectorized": lambda S, e, q: S.ivf_pq_rerank_topk_vectorized(
        e, q, _ZN_CELLS, _ZN_BOOKS, k=3
    ),
}


@pytest.mark.parametrize("kernel", sorted(_ZERO_NORM_KERNELS))
def test_vectorized_topk_zero_norm_contract(spark, kernel):
    """Pinned degenerate behavior, for the fold and the numpy kernel of
    brute force, IVF and IVF-PQ: a zero-norm corpus vector has no defined
    cosine and must never surface as a neighbor; a zero-norm query must
    emit no rows. Non-degenerate queries still get a full k neighbors even
    with zero-norm rows interleaved in the corpus."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators import similarity as S

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),  # zero-norm corpus row
        (2, [0.5, 0.5, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 0.0, 0.0]),  # zero-norm corpus row
        (5, [0.9, 0.1, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qs = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (101, [0.0, 0.0, 0.0, 0.0])],
        ["query_id", "qe"],
    )
    got = _ZERO_NORM_KERNELS[kernel](S, emb, qs).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    # zero-norm query: deterministically empty
    assert 101 not in by_q
    # real query: full k, and never a zero-norm neighbor
    assert len(by_q[100]) == 3
    assert not {1, 4} & set(by_q[100])


def test_multimodal_real_codec_decode_end_to_end(spark):
    """PNG and WAV payloads must be REALLY decoded (stdlib codecs) through
    the Spark mapInPandas path; other payloads keep the byte-level stub."""
    import io
    import struct
    import wave
    import zlib

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.multimodal import (
        extract_features,
    )

    # hand-rolled 2x2 grayscale PNG (bit depth 8): 2 scanlines, filter byte 0
    filtered = b"\x00\x10\x20\x00\x30\x40"
    pixels = b"\x10\x20\x30\x40"  # r4: the decoder now UNFILTERS scanlines
    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(filtered))
        + chunk(b"IEND", b"")
    )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1); w.setsampwidth(2); w.setframerate(8000)
        w.writeframes(struct.pack("<4h", 3, -7, 100, 0))
    wav = buf.getvalue()

    rows = [(1, png), (2, wav), (3, b"plain text payload")]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r["doc_id"]: r for r in extract_features(df).collect()}

    assert got[1]["decode_status"] == "png:2x2"
    assert got[1]["byte_len"] == len(pixels)          # decoded, not container
    assert got[1]["checksum"] == sum(pixels) % 997
    assert got[2]["decode_status"] == "wav:8000hz"
    assert got[2]["byte_len"] == 8                    # 4 frames x 2 bytes
    assert got[3]["decode_status"] == "stub"
    assert got[3]["byte_len"] == len(b"plain text payload")


def test_q41_text_corpus_features_unchanged_by_codecs(spark):
    """The documents corpus is text/plain — wiring real codecs must not
    perturb q41's gate output (every row stays on the stub path)."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import QUERIES

    out = QUERIES["q41_multimodal_features"](spark, SF_SMOKE)
    statuses = {r["decode_status"] for r in out.select("decode_status").distinct().collect()}
    assert statuses == {"stub"}


def test_jpeg_decode_real_baseline_stream():
    """The stdlib baseline-JPEG decoder must really decode entropy-coded
    image data: a fixture encoder (tests/jpeg_fixture.py — forward DCT,
    quant=1, Annex-K Huffman) produces a genuine SOF0 stream, and the
    decoded luma plane must match the source pixels to DCT rounding
    tolerance."""
    import numpy as np

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.multimodal import (
        _decode_jpeg,
    )
    from jpeg_fixture import encode_grayscale_jpeg

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(16, 24), dtype=np.uint8)
    blob = encode_grayscale_jpeg(img)
    got = _decode_jpeg(blob)
    assert got is not None, "decoder rejected a valid baseline stream"
    n_pix, first, checksum, status = got
    assert status == "jpeg:24x16"
    assert n_pix == 16 * 24
    assert abs(first - int(img[0, 0])) <= 2  # DCT round-trip tolerance
    # checksum is over the decoded plane; reproduce it within tolerance by
    # checking the decoder's own round trip is stable
    assert _decode_jpeg(blob) == got

    # corrupt/truncated stream falls back (returns None), never raises
    assert _decode_jpeg(blob[:40]) is None
    assert _decode_jpeg(b"\xff\xd8\xff\xee\x00\x04ab") is None


def test_jpeg_decode_through_feature_extractor(spark):
    """End-to-end through the mapInPandas feature stage: a JPEG payload
    row must come back with jpeg:WxH status and pixel-derived features,
    alongside png/wav/stub rows."""
    import numpy as np

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.multimodal import (
        extract_features,
    )
    from jpeg_fixture import encode_grayscale_jpeg

    img = np.tile(np.arange(8, dtype=np.uint8) * 32, (8, 1))
    blob = encode_grayscale_jpeg(img)
    df = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(b"not an image"))],
        "doc_id long, blob binary",
    )
    rows = {r["doc_id"]: r for r in extract_features(df).collect()}
    assert rows[1]["decode_status"] == "jpeg:8x8"
    assert rows[1]["byte_len"] == 64  # decoded luma pixels, not container bytes
    assert rows[2]["decode_status"] == "stub"


def test_ivf_pq_vectorized_equals_fold(spark):
    """The vectorized IVF-PQ kernel (q129) must be row-identical to the
    fold formulation (q125, the oracle vehicle): same cells, same codes,
    same exact int64 ADC prune, same re-rank."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.similarity import (
        ivf_pq_rerank_topk,
        ivf_pq_rerank_topk_vectorized,
        kmeans_fit,
        pq_fit,
    )

    emb = read_parquet_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    cents = kmeans_fit(emb, k=8, max_iter=8)
    books = pq_fit(emb, m=4, ksub=8, max_iter=4)
    q = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    fold = sorted(map(tuple, ivf_pq_rerank_topk(emb, q, cents, books, k=5, nprobe=3, rerank_from=20).collect()))
    fast = sorted(map(tuple, ivf_pq_rerank_topk_vectorized(emb, q, cents, books, k=5, nprobe=3, rerank_from=20).collect()))
    assert fold == fast and len(fold) > 0


def test_ivf_vectorized_equals_fold(spark):
    """The vectorized IVF kernel (q130) must be row-identical to the fold
    formulation (q56's operator): same cells, same probes, same round-4
    cosines and id tie-breaks."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_vectorized,
        kmeans_fit,
    )

    emb = read_parquet_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    cents = kmeans_fit(emb, k=8, max_iter=8)
    q = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    fold = sorted(map(tuple, ivf_topk(emb, q, cents, k=5, nprobe=3).collect()))
    fast = sorted(map(tuple, ivf_topk_vectorized(emb, q, cents, k=5, nprobe=3).collect()))
    assert fold == fast and len(fold) > 0


def test_jpeg_decode_progressive_stream():
    """The progressive (SOF2) decode path must reconstruct BIT-IDENTICAL
    coefficients to the baseline path: the fixture's 4-scan successive-
    approximation script (DC first/refine at Al=1->0, AC first with
    cross-block EOBRUN, AC refinement with correction bits) is
    coefficient-lossless, so the decoded features must EQUAL the baseline
    encoding's features on the same pixels."""
    import numpy as np

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.multimodal import (
        _decode_jpeg,
    )
    from jpeg_fixture import encode_grayscale_jpeg, encode_grayscale_progressive_jpeg

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(24, 32), dtype=np.uint8)
    base = _decode_jpeg(encode_grayscale_jpeg(img))
    prog = _decode_jpeg(encode_grayscale_progressive_jpeg(img))
    assert base is not None and prog is not None
    assert prog == base, (prog, base)
    assert prog[3] == "jpeg:32x24"

    # a smooth gradient exercises long EOB runs (most blocks DC-only)
    grad = np.tile(np.arange(0, 64, 2, dtype=np.uint8), (16, 1))
    gbase = _decode_jpeg(encode_grayscale_jpeg(grad))
    gprog = _decode_jpeg(encode_grayscale_progressive_jpeg(grad))
    assert gbase is not None and gprog is not None
    assert gprog == gbase

    # 0xFF fill bytes before a marker are legal padding (the r3 ADVICE
    # finding): inject fill before EOI and before a scan header
    blob = encode_grayscale_progressive_jpeg(img)
    padded = blob[:-2] + b"\xff\xff\xff" + blob[-2:]
    assert _decode_jpeg(padded) == prog
    # truncated progressive stream falls back, never raises
    assert _decode_jpeg(blob[:60]) is None


def test_mp4_container_parse():
    """The MP4 path must really parse ISO-BMFF structure (box walk,
    mvhd duration/timescale, trak count, mdat features) — not byte
    heuristics; the codec payload stays the documented seam."""
    import struct

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.multimodal import (
        _decode_one,
        _parse_mp4,
    )

    def box(t: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", len(payload) + 8) + t + payload

    mvhd_v0 = box(
        b"mvhd",
        bytes(4) + bytes(8) + struct.pack(">II", 1000, 5500) + bytes(80),
    )
    trak = box(b"trak", bytes(8))
    moov = box(b"moov", mvhd_v0 + trak + trak)
    mdat = box(b"mdat", bytes(range(10)))
    blob = box(b"ftyp", b"isom\x00\x00\x00\x01mp41") + moov + mdat
    got = _parse_mp4(blob)
    assert got == (10, 0, sum(range(10)) % 997, "mp4:5s:2trk"), got
    assert _decode_one(blob)[3] == "mp4:5s:2trk"

    # 64-bit mvhd (version 1) and a largesize mdat
    mvhd_v1 = box(
        b"mvhd",
        bytes([1, 0, 0, 0]) + bytes(16) + struct.pack(">IQ", 600, 1860) + bytes(80),
    )
    moov1 = box(b"moov", mvhd_v1 + trak)
    big = b"\x00\x00\x00\x01mdat" + struct.pack(">Q", 16 + 4) + b"abcd"
    blob1 = box(b"ftyp", b"isom\x00\x00\x00\x01mp41") + moov1 + big
    got1 = _parse_mp4(blob1)
    assert got1 == (4, ord("a"), sum(b"abcd") % 997, "mp4:3s:1trk"), got1

    # corrupt / truncated / non-mp4 fall back (None), never raise
    assert _parse_mp4(blob[:20]) is None
    assert _parse_mp4(b"\x00\x00\x00\x08free" + bytes(8)) is None
    assert _parse_mp4(box(b"ftyp", b"isom") + box(b"mdat", b"x")) is None  # no mvhd


def test_png_unfilter_all_filter_types():
    """The PNG path must reverse every scanline filter type (0 None,
    1 Sub, 2 Up, 3 Average, 4 Paeth — RFC 2083): forward-filter a known
    grayscale image one type per row, and the decoder must reconstruct
    the TRUE pixels exactly."""
    import struct
    import zlib

    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.multimodal import (
        _decode_png,
    )

    w, h = 6, 5
    img = [[(13 * y + 7 * x * x + 3) % 256 for x in range(w)] for y in range(h)]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    out = bytearray()
    for y, ftype in zip(range(h), (0, 1, 2, 3, 4)):
        out.append(ftype)
        for x in range(w):
            cur = img[y][x]
            left = img[y][x - 1] if x else 0
            up = img[y - 1][x] if y else 0
            ul = img[y - 1][x - 1] if (x and y) else 0
            if ftype == 0:
                out.append(cur)
            elif ftype == 1:
                out.append((cur - left) & 0xFF)
            elif ftype == 2:
                out.append((cur - up) & 0xFF)
            elif ftype == 3:
                out.append((cur - (left + up) // 2) & 0xFF)
            else:
                out.append((cur - paeth(left, up, ul)) & 0xFF)

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(out)))
        + chunk(b"IEND", b"")
    )
    got = _decode_png(png)
    assert got is not None
    flat = [p for row in img for p in row]
    assert got == (w * h, flat[0], sum(flat) % 997, f"png:{w}x{h}"), got
