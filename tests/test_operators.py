"""Operator-level unit tests (pieces not covered by the oracle gate)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gh_archive_clickhouse_spark.operators.multimodal import (
    _decode_pixels,
    attach_binary_payload,
    extract_image_features,
    sample_frames,
)
from gh_archive_clickhouse_spark.operators.ttl import expire_older_than
from gh_archive_clickhouse_spark.operators._util import ensure_parallelism
from tests.conftest import SF_DIR, cached_rdd_ids, wait_rdds_gone


def _docs(spark):
    from gh_archive_clickhouse_spark.plans.common import read

    return read(spark, SF_DIR, "documents")


def test_multimodal_payload_and_features(spark):
    docs = _docs(spark)
    payloads = attach_binary_payload(docs)
    assert payloads.schema["payload"].dataType.simpleString() == "binary"
    feats = extract_image_features(payloads)
    rows = feats.limit(5).collect()
    assert rows and all(r.n_bytes > 0 and len(r.sha) == 64 for r in rows)
    # deterministic fake decode is bounded like real frame dims
    assert all(0 <= r.fake_width < 640 and 0 <= r.fake_height < 480 for r in rows)
    # payload bytes round-tripped through Arrow: n_bytes == len(text utf8)
    joined = feats.join(docs, "doc_id").filter(
        F.col("n_bytes") != F.octet_length("text")
    )
    assert joined.count() == 0


def test_decode_unknown_format_declares_missing_codecs():
    """Formats with no available decoder (no Pillow in-container, not
    a PNG) still raise the declared NotImplementedError."""
    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow installed: it handles JPEG itself")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        _decode_pixels(b"\xff\xd8\xff\xe0jpeg-ish")


def test_png_codec_round_trip():
    """encode→decode is identity for gray / RGB / RGBA 8-bit images."""
    import numpy as np

    from gh_archive_clickhouse_spark.operators.png_codec import (
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(7)
    for ch in (1, 3, 4):
        px = rng.randint(0, 256, size=(11, 5, ch), dtype=np.uint8)
        back = decode_png(encode_png(px))
        assert back.shape == (11, 5, ch)
        assert np.array_equal(back, px)


def test_png_decoder_all_filter_types():
    """The decoder reconstructs every PNG scanline filter (Sub, Up,
    Average, Paeth), verified against hand-filtered raw streams."""
    import struct
    import zlib

    import numpy as np

    from gh_archive_clickhouse_spark.operators.png_codec import (
        PNG_SIG,
        _paeth,
        decode_png,
    )

    rng = np.random.RandomState(11)
    px = rng.randint(0, 256, size=(5, 4, 3), dtype=np.uint8)
    h, w, ch = px.shape
    stride = w * ch
    # build one raw stream using filter type y for row y (0..4)
    raw = bytearray()
    prev = bytes(stride)
    for y in range(h):
        row = px[y].tobytes()
        f = y  # row y uses filter type y
        raw.append(f)
        for i in range(stride):
            a = row[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if f == 0:
                v = row[i]
            elif f == 1:
                v = (row[i] - a) & 0xFF
            elif f == 2:
                v = (row[i] - b) & 0xFF
            elif f == 3:
                v = (row[i] - ((a + b) >> 1)) & 0xFF
            else:
                v = (row[i] - _paeth(a, b, c)) & 0xFF
            raw.append(v)
        prev = row

    def chunk(ctype, payload):
        return (
            struct.pack(">I", len(payload)) + ctype + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    data = (
        PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(data), px)


def test_real_decode_and_resize_under_spark(spark):
    """qm6's kernel end-to-end: PNG payloads built per row, decoded
    back through mapInPandas with REAL byte-level decode; resize takes
    the real path for PNGs (decode → nearest-neighbor → re-encode)."""
    import numpy as np

    from gh_archive_clickhouse_spark.operators.multimodal import (
        attach_png_payload,
        decode_image_features,
        resize_images,
    )
    from gh_archive_clickhouse_spark.operators.png_codec import decode_png

    docs = spark.range(0, 20).selectExpr("id AS doc_id")
    payloads = attach_png_payload(docs)
    feats = {
        r.doc_id: r
        for r in decode_image_features(payloads).collect()
    }
    assert len(feats) == 20
    for doc_id, r in feats.items():
        assert (r.width, r.height, r.n_channels) == (8, 8, 1)
        want = np.mean([(doc_id * 31 + i) % 256 for i in range(64)])
        assert abs(r.mean_px - want) < 1e-9

    resized = resize_images(payloads, 4, 4).collect()
    for r in resized:
        arr = decode_png(bytes(r.payload))
        assert arr.shape == (4, 4, 1)
        # nearest-neighbor at 2:1 keeps every other source pixel
        src = ((r.doc_id * 31 + np.arange(64)) % 256).reshape(8, 8)
        assert np.array_equal(arr[:, :, 0], src[::2, ::2])


def test_real_wav_decode_under_spark(spark):
    """qm8's kernel end-to-end: genuine RIFF/WAV 16-bit PCM blobs
    written per row (stdlib wave), decoded BACK from bytes through the
    mapInPandas codec path; checksums must equal the closed form."""
    from gh_archive_clickhouse_spark.operators.multimodal import (
        _wav_n_samples,
        _wav_sample,
        attach_wav_payload,
        decode_audio_features,
    )

    docs = spark.range(0, 20).selectExpr("id AS doc_id")
    payloads = attach_wav_payload(docs)
    # the payloads really are RIFF containers, not repackaged arrays
    one = payloads.filter(F.col("doc_id") == 3).collect()[0]
    assert bytes(one.payload)[:4] == b"RIFF"
    feats = {
        r.doc_id: r for r in decode_audio_features(payloads).collect()
    }
    assert len(feats) == 20
    for doc_id, r in feats.items():
        samples = [
            _wav_sample(doc_id, i) for i in range(_wav_n_samples(doc_id))
        ]
        assert (r.sample_rate, r.n_channels) == (8000, 1)
        assert r.n_samples == len(samples)
        assert r.sum_code == sum(samples)
        assert r.sum_sq == sum(s * s for s in samples)
        assert (r.min_code, r.max_code) == (min(samples), max(samples))


def test_wav_decode_rejects_unknown_format():
    from gh_archive_clickhouse_spark.operators.multimodal import (
        _decode_pcm,
    )

    with pytest.raises(NotImplementedError, match="RIFF"):
        _decode_pcm(b"\x00\x01not audio at all")


def test_real_y4m_decode_under_spark(spark):
    """qm9's kernel end-to-end: genuine multi-frame Y4M streams
    written per row, decoded BACK from bytes through the mapInPandas
    container path; per-frame checksums must equal the closed form."""
    from gh_archive_clickhouse_spark.operators.multimodal import (
        Y4M_SIG,
        _y4m_n_frames,
        _y4m_pixel,
        attach_y4m_payload,
        decode_video_features,
    )

    docs = spark.range(0, 20).selectExpr("id AS doc_id")
    payloads = attach_y4m_payload(docs)
    one = payloads.filter(F.col("doc_id") == 3).collect()[0]
    assert bytes(one.payload).startswith(Y4M_SIG)
    rows = decode_video_features(payloads).collect()
    assert len(rows) == sum(_y4m_n_frames(d) for d in range(20))
    for r in rows:
        plane = [_y4m_pixel(r.doc_id, r.frame_idx, i) for i in range(32)]
        assert (r.width, r.height) == (8, 4)
        assert r.sum_px == sum(plane)
        assert (r.min_px, r.max_px) == (min(plane), max(plane))


def test_y4m_decoder_parses_foreign_streams_and_rejects_unknown():
    """The stdlib Y4M parser handles streams this repo didn't write:
    chroma-subsampled colorspaces (planes skipped for luma stats),
    FRAME parameter strings — and declares missing codecs for
    non-Y4M payloads instead of guessing."""
    from gh_archive_clickhouse_spark.operators.multimodal import (
        _decode_y4m,
    )

    luma = bytes(range(8))
    chroma = bytes([9] * 4)  # C420: 2 planes of (w/2)*(h/2)
    data = (
        b"YUV4MPEG2 W4 H2 F30000:1001 It A0:0 C420jpeg\n"
        + b"FRAME\n" + luma + chroma
        + b"FRAME Ixyz\n" + luma + chroma
    )
    w, h, frames = _decode_y4m(data)
    assert (w, h) == (4, 2)
    assert frames == [luma, luma]
    with pytest.raises(NotImplementedError, match="Y4M"):
        _decode_y4m(b"\x00\x00\x01\xbampeg-ps-ish")
    with pytest.raises(ValueError, match="truncated"):
        _decode_y4m(b"YUV4MPEG2 W4 H2 Cmono\nFRAME\n\x01\x02")
    # high-bit-depth variants pack 2 bytes/sample — must DECLARE,
    # never silently misparse as their 8-bit namesakes
    with pytest.raises(NotImplementedError, match="colorspace"):
        _decode_y4m(b"YUV4MPEG2 W2 H1 Cmono16\nFRAME\n\x00\x01\x00\x02")


def test_sample_frames_takes_real_path_for_y4m(spark):
    """sample_frames on Y4M payloads fingerprints every n-th DECODED
    luma plane (real container decode), not byte chunks."""
    import hashlib

    from gh_archive_clickhouse_spark.operators.multimodal import (
        _y4m_n_frames,
        _y4m_pixel,
        attach_y4m_payload,
    )

    # an opaque non-Y4M binary payload (mp4-ish) must reach the
    # declared-codec path (PyAV or NotImplementedError), never a
    # UnicodeDecodeError from blindly text-decoding container bytes
    mp4ish = spark.createDataFrame(
        [(99, bytearray(b"\x00\x00\x00\x18ftypmp42\xff\xfe"))],
        "doc_id long, payload binary",
    )
    with pytest.raises(Exception) as exc:
        sample_frames(mp4ish).collect()
    assert "NotImplementedError" in str(exc.value), str(exc.value)[:500]
    assert "UnicodeDecodeError" not in str(exc.value)

    docs = spark.range(0, 9).selectExpr("id AS doc_id")
    rows = sample_frames(
        attach_y4m_payload(docs), every_nth=2
    ).collect()
    expect = {}
    for d in range(9):
        for f in range(0, _y4m_n_frames(d), 2):
            plane = bytes(_y4m_pixel(d, f, i) for i in range(32))
            expect[(d, f)] = hashlib.md5(plane).hexdigest()
    assert {(r.doc_id, r.frame_idx): r.frame_md5 for r in rows} == expect


def test_sample_frames_dispatches_on_magic_not_decodability(spark):
    """A real container whose bytes HAPPEN to be valid UTF-8 must
    still take the container path (declared decoder or raise), never
    be silently fingerprinted as text chunks."""
    # A structurally-valid mp4 prefix (box size 24, 'ftyp' at offset
    # 4) whose bytes are ALL valid UTF-8 (NUL is valid UTF-8) — the
    # old 'decodes as text' dispatch would have chunk-fingerprinted
    # it.
    utf8_mp4 = b"\x00\x00\x00\x18ftypisom" + b"x" * 12
    utf8_mp4.decode("utf-8")  # precondition: valid UTF-8
    assert len(utf8_mp4) == 24
    df = spark.createDataFrame(
        [(7, bytearray(utf8_mp4))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception) as exc:
        sample_frames(df).collect()
    assert "NotImplementedError" in str(exc.value), str(exc.value)[:500]
    # A TRUNCATED container (payload shorter than its own ftyp box
    # size) still probes as video — the size bound is a constant, not
    # the payload length, so mid-transfer truncation can't silently
    # reroute a real mp4 onto the text fallback.
    trunc = spark.createDataFrame(
        [(9, bytearray(b"\x00\x00\x00\x18ftypisom"[:12]))],
        "doc_id long, payload binary",
    )
    with pytest.raises(Exception) as exc:
        sample_frames(trunc).collect()
    assert "NotImplementedError" in str(exc.value), str(exc.value)[:500]
    # …while ordinary text that merely SPELLS 'ftyp' at offset 4
    # (no plausible box size precedes it) stays on the text fallback.
    text_df = spark.createDataFrame(
        [(8, bytearray(b"raw ftyped meeting notes, nothing binary"))],
        "doc_id long, payload binary",
    )
    assert sample_frames(text_df).count() > 0


def test_y4m_decode_prefers_stdlib_parse_over_pyav():
    """Y4M payloads route to the exact stdlib parser FIRST: even with
    a (fake) PyAV installed that would return wrong luma (swscale
    range conversion), the Y4M decode stays byte-exact; non-Y4M
    payloads still consult PyAV."""
    import sys
    import types

    from gh_archive_clickhouse_spark.operators.multimodal import (
        _decode_y4m,
    )

    calls = []

    class _FakeAv(types.ModuleType):
        @staticmethod
        def open(*a, **k):
            calls.append("open")
            raise RuntimeError("fake PyAV cannot decode anything")

    fake = _FakeAv("av")
    luma = bytes(range(8))
    y4m = b"YUV4MPEG2 W4 H2 Cmono\nFRAME\n" + luma
    sys.modules["av"] = fake
    try:
        _w, _h, frames = _decode_y4m(y4m)
        assert frames == [luma]
        assert calls == []  # PyAV never consulted for parseable Y4M
        with pytest.raises(NotImplementedError):
            _decode_y4m(b"\x1a\x45\xdf\xa3matroska-ish")
        assert calls == ["open"]  # …but IS consulted for other bytes
        # …and for Y4M variants the stdlib parser DECLARES
        # unsupported (here 16-bit mono), with the stdlib reason
        # surfacing in the final error when PyAV fails too.
        with pytest.raises(NotImplementedError, match="colorspace"):
            _decode_y4m(
                b"YUV4MPEG2 W2 H1 Cmono16\nFRAME\n\x00\x01\x00\x02"
            )
        assert calls == ["open", "open"]
    finally:
        del sys.modules["av"]


def test_sample_frames(spark):
    """Frame explode: every 4th fixed-size chunk of each payload comes
    back as one typed row, matching a pure-Python reference."""
    import hashlib

    from gh_archive_clickhouse_spark.operators.multimodal import (
        attach_binary_payload,
    )

    docs = _docs(spark).limit(20)
    sampled = sample_frames(
        attach_binary_payload(docs), frame_chars=64, every_nth=4
    )
    got = {
        (r.doc_id, r.frame_idx): r.frame_md5 for r in sampled.collect()
    }
    want = {}
    for r in docs.select("doc_id", "text").collect():
        n_frames = -(-len(r.text) // 64)
        for i in range(0, n_frames, 4):
            chunk = r.text[i * 64 : (i + 1) * 64]
            want[(r.doc_id, i)] = hashlib.md5(chunk.encode()).hexdigest()
    assert got == want and got


def test_expire_older_than_view(spark):
    from gh_archive_clickhouse_spark.plans.common import read

    ev = read(spark, SF_DIR, "events")
    kept = expire_older_than(ev, days=3)
    mx = ev.agg(F.max("ts")).first()[0]
    manual = ev.filter(F.col("ts") >= F.lit(mx) - F.expr("INTERVAL 3 DAYS"))
    assert kept.count() == manual.count()
    assert kept.count() < ev.count()  # fixture spans >3 days


def test_ensure_parallelism_fans_out_small_inputs(spark):
    docs = _docs(spark)  # single small file → 1 partition
    assert docs.rdd.getNumPartitions() < 4
    fanned = ensure_parallelism(docs)
    assert fanned.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # already-partitioned input passes through without a reshuffle
    assert ensure_parallelism(fanned) is fanned


def test_asof_join_matches_naive(spark):
    """asof_join == per-row 'latest right at-or-before left.ts'."""
    from gh_archive_clickhouse_spark.operators.asof import asof_join

    ev = spark.createDataFrame(
        [
            (1, "u1", "2024-01-01 00:00:00", "purchase"),
            (2, "u1", "2024-01-01 00:00:05", "purchase"),
            (3, "u2", "2024-01-01 00:00:01", "purchase"),
            (10, "u1", "2024-01-01 00:00:00", "click"),
            (11, "u1", "2024-01-01 00:00:03", "click"),
            (12, "u3", "2024-01-01 00:00:00", "click"),
        ],
        "event_id long, user_id string, ts_s string, event_type string",
    ).select("event_id", "user_id", F.to_timestamp("ts_s").alias("ts"), "event_type")
    left = ev.filter(F.col("event_type") == "purchase")
    right = ev.filter(F.col("event_type") == "click")
    out = {
        r.event_id: (r.asof_ts_us, r.n_right_so_far)
        for r in asof_join(left, right, key="user_id").collect()
    }
    base = 1704067200 * 1_000_000  # 2024-01-01 00:00:00 UTC
    assert out[1] == (base, 1)  # click at same ts counts ('<=')
    assert out[2] == (base + 3_000_000, 2)
    assert out[3] == (None, 0)  # u2 has no clicks


def test_simhash_candidate_pairs_blocking(spark):
    """Identical fingerprints pair at hamming 0; far ones are blocked out."""
    from gh_archive_clickhouse_spark.operators.dedup import simhash_candidate_pairs

    sigs = spark.createDataFrame(
        [
            (1, 0b1111000011110000),
            (2, 0b1111000011110000),          # dup of 1
            (3, 0b1111000011110001),          # hamming 1 from 1/2
            (4, (1 << 60) - 1),               # far from everything
        ],
        "doc_id long, simhash long",
    )
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_candidate_pairs(sigs).collect()
    }
    assert pairs[(1, 2)] == 0
    assert pairs[(1, 3)] == 1 and pairs[(2, 3)] == 1
    assert all(4 not in p for p in pairs)


def test_srp_bucket_properties(spark):
    """Buckets are deterministic, in range, and scale-invariant."""
    from gh_archive_clickhouse_spark.operators.similarity import srp_bucket
    from gh_archive_clickhouse_spark.plans.ext_queries import SRP_SIGNS
    from gh_archive_clickhouse_spark.plans.common import read

    emb = read(spark, SF_DIR, "embeddings")
    b1 = srp_bucket(emb, SRP_SIGNS).select("vec_id", "bucket")
    rows = b1.collect()
    assert all(0 <= r.bucket < 256 for r in rows)
    # cosine-LSH property: scaling a vector never changes its bucket
    scaled = emb.withColumn(
        "embedding", F.transform("embedding", lambda x: x * F.lit(7.5))
    )
    b2 = srp_bucket(scaled, SRP_SIGNS).select("vec_id", "bucket")
    assert b1.exceptAll(b2).count() == 0


def test_vector_index_partition_pruning(spark, tmp_path):
    """The persisted IVF index probe must be partition-pruned: the
    scan reads only the query cluster's directory."""
    from gh_archive_clickhouse_spark.operators.similarity import (
        build_vector_index,
        probe_vector_index,
    )
    from gh_archive_clickhouse_spark.plans.common import read

    emb = read(spark, SF_DIR, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.col("embedding").alias("c"),
    )
    path = str(tmp_path / "ivf_index")
    build_vector_index(emb, centroids, path)

    qrow = emb.filter(F.col("vec_id") == 3).first()
    probe = probe_vector_index(spark, path, list(qrow.embedding), cluster_ids=[3])
    rows = probe.collect()
    assert 0 < len(rows) <= 5
    # the query vector itself is its own nearest neighbor
    assert rows[0].vec_id == 3 and abs(rows[0].cos_sim - 1.0) < 1e-6
    plan = probe._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cluster_id" in m.group(1), plan[:1200]
    # probe result size == min(k, members of the probed cluster)
    n_in_cluster = (
        probe.sparkSession.read.parquet(path)
        .filter(F.col("cluster_id") == 3)
        .count()
    )
    assert len(rows) == min(5, n_in_cluster)


def test_resize_images_plumbing(spark):
    """Binary-in/binary-out mapInPandas resize: payload survives
    byte-exact, target dims stamped, no shuffle in the plan."""
    from gh_archive_clickhouse_spark.operators.multimodal import (
        attach_binary_payload,
        resize_images,
    )
    from gh_archive_clickhouse_spark.plans.common import read
    from tests.conftest import SF_DIR

    docs = read(spark, SF_DIR, "documents").limit(20)
    payloads = attach_binary_payload(docs)
    resized = resize_images(payloads, 224, 224)
    rows = {r.doc_id: r for r in resized.collect()}
    orig = {r.doc_id: r for r in payloads.collect()}
    assert rows.keys() == orig.keys()
    for k, r in rows.items():
        assert bytes(r.payload) == bytes(orig[k].payload)
        assert (r.out_width, r.out_height) == (224, 224)
    # shuffle-free property asserted on the un-limited plan (the
    # test's own limit(20) adds a single-partition exchange)
    full = resize_images(
        attach_binary_payload(read(spark, SF_DIR, "documents")), 224, 224
    )
    assert (
        "Exchange"
        not in full._jdf.queryExecution().executedPlan().toString()
    )


def test_deterministic_sample_is_layout_invariant(spark):
    """The sample must be a pure function of (salt, id): any
    repartitioning of the input yields the SAME rows, and a different
    salt draws a different (here: provably not identical) sample."""
    from gh_archive_clickhouse_spark.operators.text_analysis import (
        deterministic_sample,
    )
    from gh_archive_clickhouse_spark.plans.common import read
    from tests.conftest import SF_DIR

    docs = read(spark, SF_DIR, "documents")
    base = {
        r.doc_id
        for r in deterministic_sample(docs, {"en": 50}).select("doc_id").collect()
    }
    reparted = {
        r.doc_id
        for r in deterministic_sample(docs.repartition(7), {"en": 50})
        .select("doc_id")
        .collect()
    }
    assert base == reparted
    assert 0 < len(base) < docs.count()
    other = {
        r.doc_id
        for r in deterministic_sample(docs, {"en": 50}, salt="other")
        .select("doc_id")
        .collect()
    }
    assert other != base


def test_char_minhash_short_and_empty_docs(spark):
    """Docs shorter than the shingle size (incl. empty) must get the
    sentinel signature (all p) and never collide into LSH buckets with
    real docs."""
    from pyspark.sql import functions as F

    from gh_archive_clickhouse_spark.functions.hashing import MERSENNE31
    from gh_archive_clickhouse_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, "abc"), (3, "abcdefgh"), (4, "abcdefgh")],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(df, shingle_k=4, kind="char")
    rows = {r.doc_id: r.minhash for r in sigs.collect()}
    assert rows[1] == [MERSENNE31] * 16  # empty
    assert rows[2] == [MERSENNE31] * 16  # len 3 < k=4
    assert rows[3] == rows[4] != [MERSENNE31] * 16
    pairs = {
        (r.doc_a, r.doc_b) for r in lsh_candidate_pairs(sigs).collect()
    }
    # the exact-duplicate pair is found; sentinel docs pair with no
    # one — not even each other (they are excluded from banding, which
    # at corpus scale prevents the all-empty-docs-in-one-bucket skew)
    assert (3, 4) in pairs
    assert all(a not in (1, 2) and b not in (1, 2) for a, b in pairs)


def test_simhash_empty_docs_excluded_from_pairing(spark):
    """Empty docs all hash to fingerprint 0 (the sentinel); they must
    be excluded from banding — at corpus scale billions of empty docs
    in one bucket is a quadratic skew bomb, and empty==empty is exact
    dedup's job, not near-dup detection's."""
    from gh_archive_clickhouse_spark.operators.dedup import (
        simhash,
        simhash_candidate_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, ""),
            (2, ""),
            (3, "same words in this doc okay"),
            (4, "same words in this doc okay"),
        ],
        "doc_id long, text string",
    )
    sigs = simhash(df)
    fp = {r.doc_id: r.simhash for r in sigs.collect()}
    assert fp[1] == 0 and fp[2] == 0
    assert fp[3] == fp[4] != 0
    pairs = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_candidate_pairs(sigs).collect()
    }
    assert (3, 4, 0) in pairs
    assert all(a not in (1, 2) and b not in (1, 2) for a, b, _ in pairs)


def test_materialize_durable_parquet_path(spark, tmp_path, monkeypatch):
    """With SPARK_GRAFT_MATERIALIZE_DIR set, self-join inputs persist
    as a parquet index table (cluster-durable: survives executor loss,
    reusable across runs) and queries return identical results."""
    from gh_archive_clickhouse_spark.plans.ext_queries import (
        qx13_simhash_neardup,
    )
    from tests.conftest import SF_DIR

    base = qx13_simhash_neardup(spark, SF_DIR).collect()
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE_DIR", str(tmp_path))
    durable = qx13_simhash_neardup(spark, SF_DIR).collect()
    assert sorted(map(tuple, durable)) == sorted(map(tuple, base))
    written = list(
        tmp_path.glob("_scratch/*/qx13_fingerprints_*/*.parquet")
    )
    assert written, "signature table was not written"


def test_scratch_tables_are_garbage_collected(
    spark, tmp_path, monkeypatch
):
    """Scratch materializations don't accumulate across jobs: a new
    application's first scratch write sweeps expired trees left by
    finished applications, live/current trees are protected, and a
    caller-NAMED durable index is never touched."""
    import os
    import time

    from gh_archive_clickhouse_spark.plans import common
    from gh_archive_clickhouse_spark.plans.common import (
        materialize,
        sweep_scratch,
    )

    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE_DIR", str(tmp_path))
    monkeypatch.setenv(common.SCRATCH_TTL_ENV, "1000")
    monkeypatch.setattr(common, "_SWEPT", False)
    # a finished previous run's scratch tree, last touched long ago
    old = tmp_path / "_scratch" / "local-dead" / "cc_edges_0"
    old.mkdir(parents=True)
    (old / "part-0.parquet").write_bytes(b"x")
    stale = time.time() - 5000
    for p in (old / "part-0.parquet", old):
        os.utime(p, (stale, stale))
    # a concurrently-running job's tree (fresh mtime): protected
    live = tmp_path / "_scratch" / "local-live" / "sigs_0"
    live.mkdir(parents=True)
    (live / "part-0.parquet").write_bytes(b"x")
    # a named durable index: never swept
    durable_src = spark.range(3)
    materialize(durable_src, "my_index", durable=True)

    df = materialize(spark.range(5), "scratch_frame")
    assert df.count() == 5
    apps = sorted(p.name for p in (tmp_path / "_scratch").iterdir())
    assert "local-dead" not in apps          # expired tree swept
    assert "local-live" in apps              # fresh tree protected
    assert (tmp_path / "my_index").exists()  # durable never touched

    # second "run": explicit end-of-job sweep with no age grace
    cur = spark.sparkContext.applicationId
    removed = sweep_scratch(current_app_id=None, min_age_seconds=0)
    assert set(removed) >= {"local-live", cur}
    assert not list((tmp_path / "_scratch").iterdir())
    assert (tmp_path / "my_index").exists()


def test_snapshot_result_releases_previous_invocation(spark):
    """Builder-result snapshots hold O(1) block-manager storage per
    query key: a SECOND invocation under the same key frees the first
    frame's checkpoint blocks (deterministically — not whenever the
    JVM cleaner eventually notices), while distinct keys coexist and
    the newest frame under each key stays fully readable."""
    from gh_archive_clickhouse_spark.plans.common import snapshot_result

    before = cached_rdd_ids(spark)
    a1 = snapshot_result(spark.range(100).selectExpr("id"), "op_a")
    b1 = snapshot_result(spark.range(50).selectExpr("id"), "op_b")
    a1_ids = cached_rdd_ids(spark) - before
    assert len(a1_ids) == 2  # one checkpoint RDD per snapshot
    assert a1.count() == 100 and b1.count() == 50

    a2 = snapshot_result(spark.range(10).selectExpr("id"), "op_a")
    # exactly one of the two original RDDs (op_a's) is released (the
    # unpersist is non-blocking — poll) and a2's took its place;
    # op_b's frame is untouched
    from tests.conftest import wait_until

    assert wait_until(
        lambda: len(a1_ids - cached_rdd_ids(spark)) == 1
    )
    assert a2.count() == 10 and b1.count() == 50


def test_release_checkpoint_frees_blocks(spark):
    """checkpoints.release_checkpoint drops an eager localCheckpoint's
    block-manager storage deterministically — the primitive the
    streaming folds and snapshot_result build on."""
    from gh_archive_clickhouse_spark.checkpoints import (
        checkpoint_rdd_handle,
        release_checkpoint,
    )
    df = spark.range(1000).localCheckpoint(eager=True)
    rid = checkpoint_rdd_handle(df).id()
    assert rid in cached_rdd_ids(spark)
    assert release_checkpoint(df) is True
    assert wait_rdds_gone(spark, {rid})


def test_snapshot_result_registry_survives_handle_fetch_failure(
    spark, monkeypatch
):
    """A degraded invocation (checkpoint handle unreachable, so the
    previous frame's release fails) must NOT drop the previous
    registration — otherwise release would be silently disabled for
    that key for the session's lifetime (the warning fires only once
    globally). The next healthy invocation still releases the
    ORIGINAL frame."""
    import warnings

    from gh_archive_clickhouse_spark import checkpoints
    from gh_archive_clickhouse_spark.plans import common
    before = cached_rdd_ids(spark)
    a1 = common.snapshot_result(
        spark.range(100).selectExpr("id"), "op_atomic"
    )
    a1_ids = cached_rdd_ids(spark) - before
    assert len(a1_ids) == 1

    with monkeypatch.context() as m:
        m.setattr(checkpoints, "checkpoint_rdd_handle", lambda df: None)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            a2 = common.snapshot_result(
                spark.range(50).selectExpr("id"), "op_atomic"
            )
    # the failed update left a1's registration (and blocks) standing
    assert a1_ids <= cached_rdd_ids(spark)
    assert a1.count() == 100 and a2.count() == 50

    a3 = common.snapshot_result(
        spark.range(10).selectExpr("id"), "op_atomic"
    )
    assert wait_rdds_gone(spark, a1_ids)  # a1 released after all
    assert a3.count() == 10


def test_snapshot_result_retries_a_failed_release_once(
    spark, monkeypatch
):
    """A predecessor whose release fails stays registered for exactly
    one retry on the next invocation and is then dropped (left to the
    ContextCleaner), so a key never holds more than two frames."""
    from gh_archive_clickhouse_spark.checkpoints import (
        checkpoint_rdd_handle,
    )
    from gh_archive_clickhouse_spark.plans import common

    stuck, tries = object(), []
    real = common.release_checkpoint

    def _release(df):
        if df is stuck:
            tries.append(df)
            return False
        return real(df)

    monkeypatch.setattr(common, "release_checkpoint", _release)
    app = spark.sparkContext.applicationId
    key = "op_retry"
    common._RESULT_SNAPSHOTS[(app, key)] = [stuck]
    a1 = common.snapshot_result(spark.range(5).selectExpr("id"), key)
    held = common._RESULT_SNAPSHOTS[(app, key)]
    assert len(held) == 2 and held[0] is a1 and held[1] is stuck
    rid = checkpoint_rdd_handle(a1).id()
    a2 = common.snapshot_result(spark.range(3).selectExpr("id"), key)
    held = common._RESULT_SNAPSHOTS[(app, key)]
    assert len(held) == 1 and held[0] is a2
    assert len(tries) == 2
    assert wait_rdds_gone(spark, {rid})
    assert a2.count() == 3


@pytest.mark.parametrize(
    "builder", ["qs9_stream_static_enrich", "qs11_stream_quality_gate"]
)
def test_streaming_builder_releases_previous_result(spark, builder):
    """A resident session re-invoking a streaming builder holds one
    result snapshot per query: the second invocation frees the first
    result's blocks (qs9 reads a memory sink, qs11 a file sink)."""
    from gh_archive_clickhouse_spark.checkpoints import (
        checkpoint_rdd_handle,
    )
    from gh_archive_clickhouse_spark.plans import streaming_queries

    build = getattr(streaming_queries, builder)
    first = build(spark, SF_DIR)
    rows = sorted(first.collect(), key=repr)
    rid = checkpoint_rdd_handle(first).id()
    assert rid in cached_rdd_ids(spark)
    second = build(spark, SF_DIR)
    assert sorted(second.collect(), key=repr) == rows
    assert wait_rdds_gone(spark, {rid})


def test_kmeans_fit_matches_numpy_reference(spark):
    """kmeans_fit == a literal numpy Lloyd implementation with the
    same determinism rules (id<k init, cosine argmax with lowest-id
    ties, 6-dp rounded means/sims)."""
    import numpy as np

    from gh_archive_clickhouse_spark.operators.similarity import kmeans_fit
    from gh_archive_clickhouse_spark.plans.common import read
    from tests.conftest import SF_DIR

    emb = read(spark, SF_DIR, "embeddings")
    got = {
        (r.cluster_id, r.pos): (r.c_val, r.n_members)
        for r in kmeans_fit(emb, k=4, iters=2, dim=64).collect()
    }

    rows = sorted(
        (r.vec_id, np.array(r.embedding, dtype=np.float64))
        for r in emb.collect()
    )
    ids = [i for i, _ in rows]
    X = np.stack([v for _, v in rows])
    cents = {i: X[ids.index(i)] for i in range(4)}
    for _ in range(2):
        assign = {}
        for vid, x in zip(ids, X):
            xn = np.sqrt((x * x).sum())
            best = None
            for cid in sorted(cents):
                c = cents[cid]
                cn = np.sqrt((c * c).sum())
                sim = round(float(x @ c) / float(xn * cn), 6)
                if best is None or sim > best[0] or (
                    sim == best[0] and cid < best[1]
                ):
                    best = (sim, cid)
            assign[vid] = best[1]
        new = {}
        for cid in set(assign.values()):
            members = np.stack(
                [x for vid, x in zip(ids, X) if assign[vid] == cid]
            )
            new[cid] = np.round(members.mean(axis=0), 6)
        cents = new
    want = {}
    for cid, c in cents.items():
        n = sum(1 for v in assign.values() if v == cid)
        for pos, val in enumerate(c):
            want[(cid, pos)] = (float(val), n)
    assert set(got) == set(want)
    for key in want:
        assert got[key][1] == want[key][1], key
        assert abs(got[key][0] - want[key][0]) < 2e-6, (
            key, got[key], want[key],
        )


def test_connected_components_multihop(spark):
    """Chains collapse transitively: (1-2),(2-3),(3-4) is ONE cluster
    with rep 1; disjoint components keep their own reps; isolated
    pairs work; nodes appear exactly once."""
    from gh_archive_clickhouse_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),      # chain: diameter 3
            (10, 11),                     # isolated pair
            (20, 21), (21, 22), (20, 22), # triangle
        ],
        "doc_a long, doc_b long",
    )
    got = {
        r.doc_id: r.cluster_rep
        for r in connected_components(pairs).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_connected_components_pointer_jumping_long_chain(spark):
    """Pointer jumping converges in O(log diameter): a 41-node chain
    (diameter 40) collapses to one cluster within 10 rounds, where
    plain per-round min-label propagation would need 40 and previously
    returned silently-split clusters."""
    from gh_archive_clickhouse_spark.operators.dedup import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.cluster_rep
        for r in connected_components(chain, max_iters=10).collect()
    }
    assert got == {i: 0 for i in range(41)}


def test_connected_components_raises_on_nonconvergence(spark):
    """An exhausted iteration budget with components still split must
    RAISE, never silently return partial labels (the round-2/3 ADVICE
    medium defect): one propagate+jump round over a 9-node chain
    cannot reach uniform labels."""
    from gh_archive_clickhouse_spark.operators.dedup import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iters=1).collect()


def test_tfidf_ranks_by_true_score(spark):
    """Ranking must follow tf·idf, not the integer pair (tf desc, df
    asc): a rare term with tf=2/df=2 outranks a stopword-like term
    with tf=3/df=N even though its tf is lower (the round-2 ADVICE
    defect — the old ordering put 'common' first for doc 1)."""
    from gh_archive_clickhouse_spark.operators.text_analysis import (
        tfidf_top_terms,
    )

    docs = spark.createDataFrame(
        [
            (1, "rare rare common common common"),
            (2, "rare common"),
            (3, "common"),
            (4, "common"),
            (5, "common"),
            (6, "common"),
        ],
        "doc_id long, text string",
    )
    top1 = {
        r.doc_id: r.term
        for r in tfidf_top_terms(docs, k=1).collect()
    }
    # common: tfidf = tf * ln(7/7) = 0 for every doc; rare: 2*ln(7/3)
    assert top1[1] == "rare"
    assert top1[2] == "rare"
    # docs with only zero-score terms still emit their best (tiebreak)
    assert top1[3] == "common"


def test_pii_scrub_on_synthetic_hits(spark, tmp_path):
    """The fixture corpus has no PII, so exercise qx27's scrub on
    synthetic docs WITH hits — counts and scrubbed hashes must match
    DuckDB running the same oracle SQL on the same parquet."""
    import duckdb
    import pandas as pd

    from gh_archive_clickhouse_spark.plans.registry import QUERIES

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "contact me at alice.smith+x@example.co.uk today",
                "server 10.0.255.3 and 192.168.1.1 rebooted",
                "call +4915123456789 or mail bob@x.io from 8.8.8.8",
                "nothing sensitive here",
            ],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [47, 42, 49, 22],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    q = QUERIES["qx27_pii_scrub"]
    spdf = q.builder(spark, str(tmp_path)).toPandas()
    got = spdf.set_index("doc_id").sort_index()
    assert list(got.n_email) == [1, 0, 1, 0]
    assert list(got.n_ip) == [0, 2, 1, 0]
    assert list(got.n_phone) == [0, 0, 1, 0]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    opdf = con.execute(q.oracle).fetchdf().set_index("doc_id").sort_index()
    con.close()
    assert list(got.scrubbed_md5) == list(opdf.scrubbed_md5)
    assert (got.reset_index().astype(str) == opdf.reset_index().astype(str)).all().all()


def test_wav_decode_zero_frame_payload(spark):
    """A syntactically valid RIFF/WAV with zero frames must decode to
    an n_samples=0 row with NULL extrema, not crash the Arrow task."""
    import io
    import wave

    from gh_archive_clickhouse_spark.operators.multimodal import (
        decode_audio_features,
    )

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"")
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()))], "doc_id long, payload binary"
    )
    (r,) = decode_audio_features(df).collect()
    assert (r.n_samples, r.sum_code, r.sum_sq) == (0, 0, 0)
    assert r.min_code is None and r.max_code is None


def test_ivfpq_sink_rejects_empty_centroids(spark, tmp_path):
    from gh_archive_clickhouse_spark.operators.similarity import (
        _prep_cents,
        pq_codebook,
    )
    from gh_archive_clickhouse_spark.streaming.index_stream import (
        incremental_ivfpq_sink,
    )
    from gh_archive_clickhouse_spark.plans.common import read as _read
    from tests.conftest import SF_DIR

    emb = _read(spark, SF_DIR, "embeddings")
    empty = _prep_cents(
        emb.filter(F.col("vec_id") < 0).select(
            F.col("vec_id").cast("int").alias("centroid_id"),
            F.col("embedding").alias("c"),
        )
    )
    with pytest.raises(ValueError, match="centroid table is empty"):
        incremental_ivfpq_sink(
            str(tmp_path / "idx"), pq_codebook(emb), empty
        )


@pytest.mark.parametrize(
    "qname",
    [
        "qx46_densified_packing",
        "qx47_ivf_blocked_neardup",
        "qx45_packed_sequences",
        # the composite pipeline materializes FIVE stage frames — the
        # cluster-durable path (written index tables) must produce
        # the identical verified artifact
        "qx42_preprocess_pipeline",
    ],
)
def test_round5_queries_durable_materialize_path(
    spark, tmp_path, monkeypatch, qname
):
    """The round-5 queries that materialize intermediate frames return
    identical results on the cluster-durable path (written parquet
    index tables under SPARK_GRAFT_MATERIALIZE_DIR) as on the default
    localCheckpoint path."""
    from gh_archive_clickhouse_spark.plans.registry import QUERIES
    from tests.conftest import SF_DIR

    base = QUERIES[qname].builder(spark, SF_DIR).collect()
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE_DIR", str(tmp_path))
    durable = QUERIES[qname].builder(spark, SF_DIR).collect()
    assert sorted(map(tuple, durable)) == sorted(map(tuple, base))
    assert any(tmp_path.iterdir()), "no index table was written"


# ------------------------------------------------------------- BPE


def _py_bpe_reference(texts, rounds):
    """Literal pure-Python Sennrich BPE over whitespace words: word-
    frequency table, (count DESC, l, r) pair election, greedy
    left-to-right non-overlapping merge. The independent model both
    BPE-build tests compare against."""
    import collections
    import re

    wc = collections.Counter(
        w
        for t in texts
        for w in t.split(" ")
        if w and re.fullmatch("[A-Za-z0-9]+", w) and len(w) <= 32
    )
    words = {tuple(w): c for w, c in wc.items()}
    expect = []
    for rnd in range(1, rounds + 1):
        pc = collections.Counter()
        for syms, c in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        (left, right), n = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merged = left + right
        expect.append((rnd, left, right, merged, n))
        new: dict = {}
        for syms, c in words.items():
            out = [syms[0]]
            for x in syms[1:]:
                if out[-1] == left and x == right:
                    out[-1] = merged
                else:
                    out.append(x)
            new[tuple(out)] = new.get(tuple(out), 0) + c
        words = new
    return expect


def test_bpe_vocab_build_matches_reference(spark):
    """bpe_vocab_build == a literal pure-Python BPE (word-frequency
    table, (count DESC, l, r) election, greedy left-to-right merge)
    — including the overlapping-run case ('aaaa' merges to two 'aa',
    not three)."""
    from gh_archive_clickhouse_spark.operators.text_analysis import (
        bpe_vocab_build,
    )

    texts = [
        "low low low lower lowest news newer",
        "low news new new aaaa aaaa",
        "x" * 40 + " ok!! punct, skipped",  # filtered: too long / non-alnum
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [tuple(r) for r in bpe_vocab_build(docs, rounds=6).collect()]
    assert got == _py_bpe_reference(texts, 6)
    # the planted 'aaaa' words merged pairwise, not greedily-overlapping
    assert ("a", "a") in {(l, r) for _, l, r, _, _ in got}


def test_bpe_vocab_build_randomized_tie_breaks(spark):
    """Random two-letter corpora make pair-count ties the COMMON case:
    the distributed election must resolve every (count DESC, l, r)
    tie exactly like the pure-Python reference, round after round
    (a wrong tie-break changes all later rounds, so equality over the
    full merge table is a strong pin)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from gh_archive_clickhouse_spark.operators.text_analysis import (
        bpe_vocab_build,
    )

    @given(
        words=st.lists(
            st.text(alphabet="ab", min_size=1, max_size=4),
            min_size=1,
            max_size=10,
        )
    )
    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(words):
        texts = [
            " ".join(words[: len(words) // 2]),
            " ".join(words[len(words) // 2 :]),
        ]
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string",
        )
        got = [
            tuple(r) for r in bpe_vocab_build(docs, rounds=3).collect()
        ]
        assert got == _py_bpe_reference(texts, 3)

    run()


def _py_bpe_batched_reference(texts, merges, k):
    """Pure-Python model of bpe_vocab_build_batched: per round, sort
    pairs by (count DESC, l, r), greedily accept up to k whose left /
    right / concatenation are all unused this round, apply them, and
    re-count. The independent model the batched-build tests compare
    against."""
    import collections
    import re

    wc = collections.Counter(
        w
        for t in texts
        for w in t.split(" ")
        if w and re.fullmatch("[A-Za-z0-9]+", w) and len(w) <= 32
    )
    words = {tuple(w): c for w, c in wc.items()}
    expect = []
    while len(expect) < merges:
        pc = collections.Counter()
        for syms, c in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        ranked = sorted(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        want = min(k, merges - len(expect))
        used: set = set()
        accepted = []
        # mirror the operator's over-fetch bound: conflicts beyond it
        # wait for the next round's re-count
        for (left, right), n in ranked[: 4 * want + 8]:
            if len(accepted) >= want:
                break
            merged = left + right
            if left in used or right in used or merged in used:
                continue
            used.update((left, right, merged))
            accepted.append((left, right, merged, n))
        for left, right, merged, n in accepted:
            expect.append((len(expect) + 1, left, right, merged, n))
        for left, right, merged, _n in accepted:
            new: dict = {}
            for syms, c in words.items():
                out = [syms[0]]
                for x in syms[1:]:
                    if out[-1] == left and x == right:
                        out[-1] = merged
                    else:
                        out.append(x)
                new[tuple(out)] = new.get(tuple(out), 0) + c
            words = new
    return expect


def test_bpe_batched_k1_equals_sequential(spark):
    """With pairs_per_round=1 the batched build IS the sequential
    build: same election, one accepted pair per round — so its output
    must equal the exact-BPE reference merge for merge."""
    from gh_archive_clickhouse_spark.operators.text_analysis import (
        bpe_vocab_build_batched,
    )

    texts = [
        "low low low lower lowest news newer",
        "low news new new aaaa aaaa",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        tuple(r)
        for r in bpe_vocab_build_batched(
            docs, merges=6, pairs_per_round=1
        ).collect()
    ]
    assert got == _py_bpe_reference(texts, 6)


def test_bpe_batched_randomized_matches_reference(spark):
    """Random two-letter corpora (pair-count ties and within-round
    conflicts are the COMMON case there: any two of the four possible
    pairs share a symbol) — the distributed batched build must accept
    and order exactly like the pure-Python model, merge for merge."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from gh_archive_clickhouse_spark.operators.text_analysis import (
        bpe_vocab_build_batched,
    )

    @given(
        words=st.lists(
            st.text(alphabet="ab", min_size=1, max_size=4),
            min_size=1,
            max_size=10,
        ),
        k=st.integers(min_value=2, max_value=4),
    )
    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(words, k):
        texts = [
            " ".join(words[: len(words) // 2]),
            " ".join(words[len(words) // 2 :]),
        ]
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string",
        )
        got = [
            tuple(r)
            for r in bpe_vocab_build_batched(
                docs, merges=6, pairs_per_round=k
            ).collect()
        ]
        assert got == _py_bpe_batched_reference(texts, 6, k)

    run()


def test_bpe_batched_accepts_disjoint_pairs_in_one_round(spark):
    """Execution proof for the batch width: 31 two-char words over 62
    distinct symbols make every pair disjoint from every other, so ONE
    round must elect and apply all 31 merges (the single
    _merge_fold_many pass — constant plan depth — handles the full
    batch), matching the pure-Python model merge for merge."""
    import string

    from gh_archive_clickhouse_spark.operators.text_analysis import (
        bpe_vocab_build_batched,
    )

    chars = list(string.ascii_letters + string.digits)[:62]
    words = [chars[i] + chars[i + 1] for i in range(0, 62, 2)]
    texts = [" ".join(words)]
    docs = spark.createDataFrame([(0, texts[0])], "doc_id long, text string")
    got = [
        tuple(r)
        for r in bpe_vocab_build_batched(
            docs, merges=31, pairs_per_round=31
        ).collect()
    ]
    assert got == _py_bpe_batched_reference(texts, 31, 31)
    assert len(got) == 31
    assert {(l, r) for _, l, r, _, _ in got} == {
        (w[0], w[1]) for w in words
    }


def test_bpe_election_is_takeordered_with_partial_agg(spark):
    """The merge-round election plan: pair counting is a map-side-
    combined hash aggregate and the top-1 pick compiles to
    TakeOrderedAndProject — never a global Sort of the pair table."""
    from gh_archive_clickhouse_spark.operators.text_analysis import (
        bpe_pair_election,
    )

    words = spark.createDataFrame(
        [(["l", "o", "w"], 3), (["n", "e", "w"], 2)],
        "syms array<string>, wcnt long",
    )
    plan = (
        bpe_pair_election(words)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    assert plan.count("HashAggregate") >= 2, plan[:3000]  # partial+final
    assert "Sort " not in plan, plan[:3000]


def test_bpe_encode_stats_matches_reference(spark):
    """bpe_encode_stats applies a learned merge table exactly like a
    literal in-order pure-Python encode; docs with no in-vocabulary
    word drop out."""
    import collections
    import re

    from gh_archive_clickhouse_spark.operators.text_analysis import (
        bpe_encode_stats,
        bpe_vocab_build,
    )

    texts = ["low low lower newest", "new news lowest", "!!! ???"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = [
        (r.left, r.right, r.merged)
        for r in bpe_vocab_build(docs, rounds=4).collect()
    ]
    got = {
        r.doc_id: (r.n_vocab_words, r.n_bpe_tokens)
        for r in bpe_encode_stats(docs, merges).collect()
    }

    def encode(word):
        syms = list(word)
        for left, right, merged in merges:
            out = [syms[0]]
            for x in syms[1:]:
                if out[-1] == left and x == right:
                    out[-1] = merged
                else:
                    out.append(x)
            syms = out
        return len(syms)

    expect = {}
    for i, t in enumerate(texts):
        ws = [
            w
            for w in t.split(" ")
            if w and re.fullmatch("[A-Za-z0-9]+", w) and len(w) <= 32
        ]
        if ws:
            expect[i] = (len(ws), sum(encode(w) for w in ws))
    assert got == expect
    assert 2 not in got  # punctuation-only doc dropped


def test_bpe_build_encode_stats_matches_two_pass(spark):
    """The fused build+encode (r16, qx52's path) is bit-identical to
    the two-pass composition it replaces: vocab build → collect
    merges → bpe_encode_stats. Covers the early-stop case (rounds
    beyond the last electable pair) so the fused loop's final word
    table equals the encode chain there too."""
    from gh_archive_clickhouse_spark.operators.text_analysis import (
        bpe_build_encode_stats,
        bpe_encode_stats,
        bpe_vocab_build,
    )

    texts = ["low low lower newest", "new news lowest", "!!! ???", "aa"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for rounds in (4, 40):  # 40 >> electable pairs: early-stop path
        merges = [
            (r.left, r.right, r.merged)
            for r in bpe_vocab_build(docs, rounds=rounds).collect()
        ]
        two_pass = {
            r.doc_id: (r.n_vocab_words, r.n_bpe_tokens)
            for r in bpe_encode_stats(docs, merges).collect()
        }
        fused = {
            r.doc_id: (r.n_vocab_words, r.n_bpe_tokens)
            for r in bpe_build_encode_stats(docs, rounds=rounds).collect()
        }
        assert fused == two_pass


def test_bpe_encode_kernel_learned_order_edges(spark):
    """The candidate-heap rewrite's two ordering edges, pinned against
    the expression path AND literal expectations: a merge whose side
    is CREATED by an earlier merge still fires (the created-symbol
    rescan), and a later-created symbol never re-enables a merge whose
    turn already passed (learned order, one pass each)."""
    from gh_archive_clickhouse_spark.operators.text_analysis import (
        bpe_encode_stats,
        bpe_encode_stats_kernel,
    )

    docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    # enablement: merge 2's left symbol "ab" exists only after merge 1
    fwd = [("a", "b", "ab"), ("ab", "c", "abc")]
    # turn passed: "ab" appears only after merge 1's slot is over
    rev = [("ab", "c", "abc"), ("a", "b", "ab")]
    for merges, want in ((fwd, 1), (rev, 2)):
        kern = bpe_encode_stats_kernel(docs, merges).collect()
        expr = bpe_encode_stats(docs, merges).collect()
        assert [r.asDict() for r in kern] == [r.asDict() for r in expr]
        assert kern[0].n_bpe_tokens == want


def test_bpe_encode_kernel_randomized_vs_naive_reference(spark):
    """Property pin for the candidate-heap scheduler: on 300 random
    words x a 120-entry random merge table (seeded), the kernel's
    token counts equal a naive pure-Python reference that loops ALL
    merges in learned order, one greedy pass each — the semantics the
    heap claims to replay while visiting only viable candidates.
    Random tables include chained multi-char sides and duplicate
    merged symbols, the cases the equivalence proof leans on."""
    import random

    from gh_archive_clickhouse_spark.operators.text_analysis import (
        bpe_encode_stats_kernel,
    )

    rng = random.Random(20260814)
    alphabet = "abcdef"
    merges = []
    symbols = list(alphabet)
    for _ in range(120):
        left, right = rng.choice(symbols), rng.choice(symbols)
        merged = left + right
        if len(merged) <= 8:
            merges.append((left, right, merged))
            symbols.append(merged)
    words = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12)))
        for _ in range(300)
    ]
    words = sorted(set(words))

    def naive(w):
        syms = list(w)
        for left, right, merged in merges:
            if len(syms) < 2:
                break
            out = [syms[0]]
            for x in syms[1:]:
                if out[-1] == left and x == right:
                    out[-1] = merged
                else:
                    out.append(x)
            syms = out
        return len(syms)

    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.n_bpe_tokens
        for r in bpe_encode_stats_kernel(docs, merges).collect()
    }
    expect = {i: naive(w) for i, w in enumerate(words)}
    assert got == expect


def test_bpe_encode_kernel_matches_expression_path(spark):
    """The merge-table-size-safe kernel encode (broadcast merge list,
    mapInPandas) produces exactly the expression path's output on the
    same learned merges — the parity cross-check that lets qx52 stay
    as the small-R reference while qx58 carries production R."""
    from gh_archive_clickhouse_spark.operators.text_analysis import (
        bpe_encode_stats,
        bpe_encode_stats_kernel,
        bpe_vocab_build,
    )
    from gh_archive_clickhouse_spark.plans.common import read

    docs = read(spark, SF_DIR, "documents")
    merges = [
        (r.left, r.right, r.merged)
        for r in bpe_vocab_build(docs, rounds=6).collect()
    ]
    expr = {
        r.doc_id: (r.n_vocab_words, r.n_bpe_tokens)
        for r in bpe_encode_stats(docs, merges).collect()
    }
    kern = {
        r.doc_id: (r.n_vocab_words, r.n_bpe_tokens)
        for r in bpe_encode_stats_kernel(docs, merges).collect()
    }
    assert kern == expr
    assert len(kern) > 0


def test_bpe_encode_kernel_plan_size_independent_of_merge_count(spark):
    """The whole point of the kernel path: the Catalyst plan must not
    grow with the merge table (the expression path's plan depth is
    O(R), unusable at a production ~30k-merge vocabulary)."""
    from gh_archive_clickhouse_spark.operators.text_analysis import (
        bpe_encode_stats_kernel,
    )

    docs = spark.createDataFrame(
        [(1, "low lower lowest")], "doc_id long, text string"
    )
    alphabet = "abcdefghijklmnopqrstuvwxyz0123"
    big = [(a, b, a + b) for a in alphabet for b in alphabet][:900]
    small = big[:4]

    def plan_shape(merges):
        df = bpe_encode_stats_kernel(docs, merges)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # normalize auto-generated expression ids (#123) so the two
        # plans compare structurally
        import re

        return re.sub(r"#\d+", "#x", plan)

    p_small, p_big = plan_shape(small), plan_shape(big)
    assert len(p_small.splitlines()) == len(p_big.splitlines())
    assert abs(len(p_small) - len(p_big)) < 64
    # and the 900-merge plan actually EXECUTES (the expression path
    # would take minutes to even analyze at this depth)
    rows = bpe_encode_stats_kernel(docs, big).collect()
    assert rows and rows[0].n_vocab_words == 3
    # the headline claim, executed directly: a PRODUCTION-sized 30k
    # merge table runs in one pass. These merges reference synthetic
    # multi-char symbols that never occur in the words, so every one
    # is skipped by the O(1) presence prefilter — exactly how a real
    # vocabulary behaves per word (a word matches a handful of its
    # 30k merges). Output = raw char counts since nothing fires.
    merges_30k = [
        (f"s{i}", f"s{j}", f"s{i}s{j}")
        for i in range(200)
        for j in range(150)
    ]
    assert len(merges_30k) == 30_000
    rows = bpe_encode_stats_kernel(docs, merges_30k).collect()
    assert rows and rows[0].n_bpe_tokens == len("lowlowerlowest")


def test_rarity_score_matches_reference(spark):
    """Integer-exact inverse-frequency rarity == a literal Python
    computation; zero-token docs drop out."""
    from gh_archive_clickhouse_spark.operators.text_analysis import (
        rarity_score,
    )

    # doc 3 has s % n != 0 so the mean's FLOOR semantics are pinned,
    # not just the remainder-free cases
    texts = ["a a b", "b c", "", "a b c"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.sum_rarity_milli, r.mean_rarity_milli)
        for r in rarity_score(docs).collect()
    }
    # vocab: a=3, b=3, c=2; total=8
    rm = {"a": 1000 * 8 // 3, "b": 1000 * 8 // 3, "c": 1000 * 8 // 2}
    expect = {}
    for i, t in enumerate(texts):
        ws = [w for w in t.split(" ") if w]
        if ws:
            s = sum(rm[w] for w in ws)
            expect[i] = (len(ws), s, s // len(ws))
    assert got == expect
    assert 2 not in got
    # the flooring case really fired
    s3, n3 = expect[3][1], expect[3][0]
    assert s3 % n3 != 0


def test_dedup_survivors_by_keeps_best_scoring_member(spark):
    """Quality-aware cut: each duplicate cluster keeps its highest-
    scoring member (ties -> lowest id), never-paired rows survive —
    contrasted with the min-id policy on the same clusters."""
    from gh_archive_clickhouse_spark.operators.dedup import (
        dedup_survivors,
        dedup_survivors_by,
    )

    corpus = spark.createDataFrame(
        [
            # cluster {1,2,3}: best is the MIDDLE id
            (1, 0.2), (2, 0.9), (3, 0.5),
            # cluster {10,11}: score tie -> lowest id wins
            (10, 0.7), (11, 0.7),
            # never paired
            (99, 0.1),
        ],
        "doc_id long, score double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    by = sorted(
        r.doc_id
        for r in dedup_survivors_by(corpus, pairs, "score").collect()
    )
    assert by == [2, 10, 99]
    # the min-id policy would have kept 1 instead of the best member
    min_id = sorted(
        r.doc_id for r in dedup_survivors(corpus, pairs).collect()
    )
    assert min_id == [1, 10, 99]


def test_cross_split_candidates_keeps_sides_and_skips_within_split(spark):
    """qx57's primitive: candidates preserve WHICH side each id came
    from (remediation drops the train member), and within-side
    near-dups produce NO pairs — the train×train space is never
    generated."""
    from gh_archive_clickhouse_spark.operators.dedup import (
        cross_split_candidates,
        minhash_signatures,
    )

    long = " ".join(f"tok{i}" for i in range(30))
    other = " ".join(f"alt{i}" for i in range(30))
    train = spark.createDataFrame(
        [(1, long), (2, other), (3, other)],  # 2,3: within-train dups
        "doc_id long, text string",
    )
    held = spark.createDataFrame(
        [(100, long)], "doc_id long, text string"
    )
    cand = cross_split_candidates(
        minhash_signatures(train), minhash_signatures(held)
    ).collect()
    assert {(r.id_a, r.id_b) for r in cand} == {(1, 100)}
