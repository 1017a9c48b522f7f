"""EXT operator unit tests on synthetic corpora — behaviors the driver
tables can't exercise (planted exact dups, recall of sketch pipelines,
multimodal plumbing, metrics)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from klogs_spark.ext import dedup as dd
from klogs_spark.ext import multimodal as mm
from klogs_spark.ext import similarity as sim
from klogs_spark.metrics import IngestMetrics


@pytest.fixture(scope="module")
def corpus(spark):
    base = ("the quick brown fox jumps over the lazy dog while the calm "
            "grey owl watches from a tall oak tree near the quiet river "
            "bank under a bright summer sky every single day")
    rows = [
        (0, base),
        (1, base),                                      # exact dup of 0
        (2, base + " indeed"),          # near dup (jaccard ~0.97, caught by
                                        # the fixed LSH bands deterministically)
        (3, "completely different text about spark query engines at scale"),
        (4, "another unrelated document mentioning parquet files and shuffles"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_collapses_exact_copies(corpus):
    out = {r.survivor_id: r.n_copies for r in dd.exact_dedup(corpus).collect()}
    assert out[0] == 2          # doc 1 collapsed into doc 0
    assert 1 not in out
    assert out[2] == out[3] == out[4] == 1


def test_minhash_identical_docs_identical_signatures(corpus):
    sigs = {r["id"]: tuple(r)[1:] for r in dd.minhash_signatures(corpus).collect()}
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[3]


def test_minhash_lsh_finds_exact_and_near_dups(corpus):
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in dd.minhash_dedup(corpus, min_jaccard=0.3).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs or (1, 2) in pairs
    assert all(not {3, 4} & set(p) for p in pairs)


def test_simhash_identical_docs_zero_hamming(corpus):
    sims = dd.simhash(corpus)
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in dd.simhash_pairs(sims, max_hamming=60).collect()}
    assert pairs[(0, 1)] == 0
    # near dup closer than unrelated docs
    assert pairs[(0, 2)] < pairs[(0, 3)]


def test_simhash_bucketed_matches_pairwise(corpus):
    sims = dd.simhash(corpus).cache()
    brute = {(r.id_a, r.id_b) for r in
             dd.simhash_pairs(sims, max_hamming=10).collect()}
    bucketed = {(r.id_a, r.id_b) for r in
                dd.simhash_pairs_bucketed(sims, max_hamming=10).collect()}
    assert bucketed == brute  # pigeonhole blocking is lossless


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # near 0
        (2, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),     # opposite
        (4, [0.7, 0.7, 0.0, 0.0]),      # diagonal
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_force_topk_ordering(vectors):
    got = [r["id"] for r in sim.brute_force_topk(vectors, [1.0, 0, 0, 0], k=3).collect()]
    assert got == [0, 1, 4]


def test_embedding_neardup_threshold(vectors):
    pairs = {(r.id_a, r.id_b) for r in
             dd.embedding_neardup(vectors, threshold=0.99).collect()}
    assert pairs == {(0, 1)}


def test_lsh_bucket_groups_similar_vectors(vectors):
    planes = [[0.5, 0.1, -0.2, 0.3], [-0.1, 0.4, 0.2, -0.3],
              [0.2, -0.3, 0.1, 0.4]]
    buckets = {r["id"]: r.bucket
               for r in sim.lsh_bucket_assignments(vectors, planes=planes).collect()}
    assert buckets[0] == buckets[1]      # near-identical vectors collide
    assert buckets[0] != buckets[3]      # opposite vectors split


def test_kmeans_refine_converges_to_cluster_means(spark):
    # two obvious clusters around (1,0) and (0,1); bad initial centroids
    rows = [
        (0, [1.0, 0.05]), (1, [0.95, 0.0]), (2, [1.05, -0.05]),
        (3, [0.0, 1.0]), (4, [0.05, 0.95]), (5, [-0.05, 1.05]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seed = spark.createDataFrame(
        [(0, [1.0, 0.05]), (1, [0.0, 1.0])],
        "centroid_id long, centroid array<double>",
    )
    refined = {r.centroid_id: r.centroid
               for r in sim.kmeans_refine(emb, seed, iterations=2).collect()}
    assert refined[0][0] == pytest.approx(1.0, abs=0.1)
    assert refined[0][1] == pytest.approx(0.0, abs=0.1)
    assert refined[1][0] == pytest.approx(0.0, abs=0.1)
    assert refined[1][1] == pytest.approx(1.0, abs=0.1)
    # refined centroids are proper element-wise means of their members
    assert refined[0] == pytest.approx([1.0, 0.0], abs=0.05)


def test_hash_sample_deterministic_and_stable(spark):
    from klogs_spark.ext.sampling import hash_sample

    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    s1 = {r.k for r in hash_sample(df, "k", 0.3).collect()}
    s2 = {r.k for r in hash_sample(df, "k", 0.3).collect()}
    assert s1 == s2                       # reproducible
    assert 200 < len(s1) < 400            # roughly the fraction
    bigger = {r.k for r in hash_sample(df, "k", 0.5).collect()}
    assert s1 <= bigger                   # nested: membership is monotone in f
    # membership independent of other rows present
    half = {r.k for r in hash_sample(df.filter("k < 500"), "k", 0.3).collect()}
    assert half == {k for k in s1 if k < 500}


def test_knn_join_excludes_self_and_ranks(vectors):
    out = sim.knn_join(vectors, vectors.filter(F.col("vec_id") == 0), k=2)
    rows = sorted(out.collect(), key=lambda r: r.rnk)
    assert [r.neighbor_id for r in rows] == [1, 4]
    assert all(r.query_id == 0 for r in rows)


def test_multimodal_feature_extraction(spark):
    rows = [
        (1, "image", "image/png", b"\x89PNG fake bytes", len(b"\x89PNG fake bytes"),
         4, 4, None),
        (2, "video", "video/mp4", b"\x00mp4", 4, 16, 9, 3.5),
        (3, "audio", "audio/wav", None, 0, None, None, 1.0),
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    feats = {r.media_id: r for r in mm.extract_features(media, dim=8).collect()}
    assert feats[1].sha256 != feats[2].sha256
    assert feats[1].feature_dim == 8 and feats[1].feature_norm > 0
    assert feats[3].n_bytes == 0  # null payload handled

    # deterministic fake: same payload -> same features
    feats2 = {r.media_id: r for r in mm.extract_features(media, dim=8).collect()}
    assert feats[1].feature_norm == feats2[1].feature_norm


def test_multimodal_resize_plumbing(spark):
    rows = [(1, "image", "image/png", b"0123456789", 10, 100, 50, None),
            (2, "image", "image/png", None, 0, None, None, None)]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)

    def fake_kernel(payload, w, h):
        return payload[: w * h // 1000 + 4]  # deterministic truncation "resize"

    out = {r.media_id: r for r in
           mm.resize_images(media, 16, 16, kernel=fake_kernel).collect()}
    assert out[1].width == 16 and out[1].height == 16
    assert out[1].n_bytes == len(out[1].payload) == 4
    assert out[2].payload is None and out[2].n_bytes == 0

    # default kernel is the stub -> loud failure, not fake decode
    with pytest.raises(Exception):
        mm.resize_images(media, 8, 8).collect()


def test_multimodal_decode_stub_raises():
    # junk fails loudly; PNG, baseline JPEG, and GIF all decode for real
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"bytes")
    # truncated GIF is a loud ValueError (real decoder), not a fake decode
    with pytest.raises(ValueError, match="gif"):
        mm.decode_image(b"GIF89a" + bytes(10))
    # header-only JPEG (no scan) is a loud ValueError, not a fake decode
    with pytest.raises(ValueError, match="no SOS"):
        mm.decode_image(mm.synth_jpeg(4, 4))
    # real baseline JPEG and GIF decode through the dispatch
    w, h, c, px = mm.decode_image(mm.synth_jpeg_gray_blocks(3))
    assert (w, h, c) == ((3 % 3 + 1) * 8, (3 % 2 + 1) * 8, 1)
    assert len(px) == w * h
    w, h, c, px = mm.decode_image(mm.synth_gif_indexed(3, 5, 4))
    assert (w, h, c, len(px)) == (5, 4, 3, 60)


def test_png_codec_round_trips_every_filter():
    raw = mm.synth_pixel_bytes(42, 6 * 5 * 3)
    # each filter type alone, plus the cycling default that mixes them
    for filters in ([0] * 5, [1] * 5, [2] * 5, [3] * 5, [4] * 5, None):
        png = mm.encode_png(6, 5, raw, channels=3, filters=filters)
        assert mm.decode_png_pixels(png) == (6, 5, 3, raw), filters
    # greyscale (color type 0, 1 channel)
    grey = mm.synth_pixel_bytes(7, 4 * 3)
    assert mm.decode_png_pixels(
        mm.encode_png(4, 3, grey, channels=1)
    ) == (4, 3, 1, grey)
    # decode_image dispatches PNG to the real codec
    assert mm.decode_image(mm.synth_png_rgb(9, 2, 2))[:3] == (2, 2, 3)


def test_png_decode_rejects_corruption():
    png = mm.synth_png_rgb(5, 4, 4)
    # flipped byte inside IHDR -> CRC mismatch -> None (not an exception)
    bad = bytearray(png)
    bad[20] ^= 0xFF
    assert mm.decode_png_pixels(bytes(bad)) is None
    # header-only synth PNG (no IDAT, zero CRC) is sniffable but not decodable
    assert mm.sniff_media_metadata(mm.synth_png(8, 8))[0] == "png"
    assert mm.decode_png_pixels(mm.synth_png(8, 8)) is None
    # truncation inside IDAT, junk, and None all return None
    assert mm.decode_png_pixels(png[:30]) is None
    assert mm.decode_png_pixels(b"junk") is None
    assert mm.decode_png_pixels(None) is None


def test_png_resize_nearest_index_mapping():
    # 2x2 -> 1x1 keeps the top-left pixel (floor mapping)
    raw = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120])
    small = mm.png_resize_nearest(mm.encode_png(2, 2, raw), 1, 1)
    assert mm.decode_png_pixels(small) == (1, 1, 3, bytes([10, 20, 30]))
    # 1x1 -> 3x2 replicates; identity resize is byte-identical raw
    up = mm.png_resize_nearest(small, 3, 2)
    assert mm.decode_png_pixels(up)[3] == bytes([10, 20, 30] * 6)
    png = mm.synth_png_rgb(11, 4, 3)
    same = mm.png_resize_nearest(png, 4, 3)
    assert mm.decode_png_pixels(same)[3] == mm.decode_png_pixels(png)[3]


def test_image_pixel_stats_dataframe(spark):
    raw = bytes([0, 255, 3, 4])
    rows = [
        (1, mm.encode_png(2, 2, raw, channels=1)),
        (2, b"not a png"),
        (3, None),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.media_id: r for r in mm.image_pixel_stats(media).collect()}
    assert (out[1].width, out[1].height, out[1].channels) == (2, 2, 1)
    assert (out[1].n_vals, out[1].peak) == (4, 255)
    assert (out[1].sum_vals, out[1].sum_sq) == (262, 255 * 255 + 25)
    assert out[2].n_vals is None and out[3].n_vals is None


def test_sniff_png_jpeg_gif_wav_headers():
    assert mm.sniff_media_metadata(mm.synth_png(640, 480)) == (
        "png", 640, 480, None)
    # the synth JPEG carries a COM segment before SOF0 — the marker walk
    # must skip it rather than read dimensions from the wrong offset
    assert mm.sniff_media_metadata(mm.synth_jpeg(123, 45)) == (
        "jpeg", 123, 45, None)
    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little")
    assert mm.sniff_media_metadata(gif) == ("gif", 320, 200, None)
    # 2500 frames at 1000 Hz -> 2.5 s
    assert mm.sniff_media_metadata(mm.synth_wav(2500)) == (
        "wav", None, None, 2.5)
    # stereo 16-bit 8 kHz: duration independent of channel count
    assert mm.sniff_media_metadata(
        mm.synth_wav(4000, sample_rate=8000, channels=2)
    ) == ("wav", None, None, 0.5)


def test_sniff_wav_skips_unknown_chunks():
    wav = bytearray(mm.synth_wav(1000))
    # splice a LIST chunk between fmt and data (offsets: RIFF hdr 12 + fmt 24)
    extra = b"LIST" + (4).to_bytes(4, "little") + b"INFO"
    spliced = bytes(wav[:36]) + extra + bytes(wav[36:])
    fixed = b"RIFF" + (len(spliced) - 8).to_bytes(4, "little") + spliced[8:]
    assert mm.sniff_media_metadata(fixed) == ("wav", None, None, 1.0)


def test_sniff_corrupt_payloads_return_none():
    for junk in (None, b"", b"\x89PNG", b"\xff\xd8\xff", b"RIFFxxxx",
                 b"GIF12a\x00\x00\x00\x00", b"not media at all"):
        assert mm.sniff_media_metadata(junk) == (None, None, None, None)


def test_decode_wav_pcm_samples_and_edge_cases():
    import struct

    # known samples round-trip: rate/channels/count/peak/energy all exact
    vals = [0, 100, -200, 32767, -32768, 7]
    wav = mm.synth_wav(
        len(vals), sample_rate=8000, data=struct.pack(f"<{len(vals)}h", *vals)
    )
    assert mm.decode_wav_pcm(wav) == (
        8000, 1, len(vals), 32768, sum(v * v for v in vals)
    )
    # silence decodes to zero stats
    assert mm.decode_wav_pcm(mm.synth_wav(10)) == (1000, 1, 10, 0, 0)
    # unknown chunks between fmt and data are skipped
    wav2 = bytearray(mm.synth_wav(4))
    extra = b"LIST" + (4).to_bytes(4, "little") + b"INFO"
    spliced = bytes(wav2[:36]) + extra + bytes(wav2[36:])
    fixed = b"RIFF" + (len(spliced) - 8).to_bytes(4, "little") + spliced[8:]
    assert mm.decode_wav_pcm(fixed) == (1000, 1, 4, 0, 0)
    # non-PCM fmt tag, 8-bit, and corrupt payloads return None, not raise
    nonpcm = bytearray(mm.synth_wav(4))
    nonpcm[20:22] = (3).to_bytes(2, "little")  # IEEE float fmt tag
    assert mm.decode_wav_pcm(bytes(nonpcm)) is None
    assert mm.decode_wav_pcm(mm.synth_wav(4, bits=8)) is None
    for junk in (None, b"", b"RIFFxxxxWAVE", b"not audio"):
        assert mm.decode_wav_pcm(junk) is None


def test_extract_media_metadata_dataframe(spark):
    rows = [
        (1, "image", "image/png", mm.synth_png(32, 16), 0, None, None, None),
        (2, "audio", "audio/wav", mm.synth_wav(500), 0, None, None, None),
        (3, "image", "image/png", b"corrupt", 7, None, None, None),
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = {r.media_id: r for r in mm.extract_media_metadata(media).collect()}
    assert (out[1].fmt, out[1].width, out[1].height) == ("png", 32, 16)
    assert (out[2].fmt, out[2].duration_s) == ("wav", 0.5)
    assert out[3].fmt is None and out[3].width is None


def test_media_byte_budget_partitioning(spark):
    # skewed payload sizes: partition count follows total bytes, not rows
    rows = [(i, "image", "x", b"A" * (1000 if i < 2 else 10),
             1000 if i < 2 else 10, None, None, None) for i in range(100)]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = mm.with_partitioning_for_media(media, target_partition_bytes=1500)
    assert out.count() == 100
    assert out.rdd.getNumPartitions() == (2 * 1000 + 98 * 10) // 1500 + 1


def test_frame_sampling_worklist(spark):
    rows = [(2, "video", "video/mp4", b"x", 1, 16, 9, 2.5)]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    frames = mm.sample_frames(media, every_s=1.0).collect()
    assert [r.frame_ts for r in frames] == [0.0, 1.0, 2.0]


def test_asof_join_matches_and_left_semantics(spark):
    from datetime import datetime

    from klogs_spark.ext.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, datetime(2026, 1, 1, 0, 0, 30)),
         (1, 11, datetime(2026, 1, 1, 0, 2, 0)),
         (2, 20, datetime(2026, 1, 1, 0, 0, 5)),   # before any right row
         (3, 30, datetime(2026, 1, 1, 0, 1, 0))],  # key with no right rows
        "k long, id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, datetime(2026, 1, 1, 0, 0, 30), "a"),   # same instant as id=10
         (1, datetime(2026, 1, 1, 0, 1, 0), "b"),
         (2, datetime(2026, 1, 1, 0, 0, 10), "c")],
        "k long, ts timestamp, v string",
    )
    out = {r.id: r.v for r in
           asof_join(left, right, "k", "k", "ts", "ts", ["v"]).collect()}
    assert out == {10: "a",   # inclusive: same-instant right row matches
                   11: "b",   # latest at-or-before
                   20: None,  # left row precedes all right rows
                   30: None}  # no right rows for the key


def test_range_join_within_bounds_and_key_isolation(spark):
    from datetime import datetime

    from klogs_spark.ext.asof import range_join_within

    base = datetime(2026, 1, 1)

    def at(s):
        return datetime(2026, 1, 1, s // 3600, (s // 60) % 60, s % 60)

    ev = spark.createDataFrame(
        [(1, 100, at(0)), (1, 101, at(250)),   # pair within 300 s
         (1, 102, at(601)),                    # 351 s after 101: out
         (2, 200, at(10))],                    # other key, near in time
        "k long, id long, ts timestamp",
    )
    pairs = range_join_within(
        ev, ev.select("k", "ts"), "k", "k", "ts", "ts", 300
    ).collect()
    got = sorted((r.id, r.r_ts.minute * 60 + r.r_ts.second + r.r_ts.hour * 3600)
                 for r in pairs)
    # only (100 -> 250s) and (101 -> 250+351=601s? no: 601-250=351 > 300)
    assert got == [(100, 250)]


def test_ingest_metrics_quantiles_and_render():
    m = IngestMetrics()
    for i in range(100):
        m.observe_batch(n_rows=i, seconds=i / 100)
    m.observe_error()
    assert m.input_records_total == sum(range(100))
    assert m.errors_total == 1
    text = m.render_prometheus()
    assert "input_records_total 4950" in text
    assert 'batch_size{quantile="0.5"} 50.0' in text
    assert "flush_time_seconds_count 100" in text


def test_self_log_counter_counts_engine_log_lines_by_level():
    """Reference parity for the LAST T6 sub-item: the engine's own log
    lines increment klogs_logs_total{level} via a wrapping handler
    (pkg/instrument/logger/logger.go:17-19 registers the counter; the
    CustomHandler increments it per record, logger.go:61). WARNING maps
    to slog's WARN label; instrumenting twice must not double-count; the
    series reaches the /metrics exposition."""
    import logging

    from klogs_spark.metrics import instrument_logger

    m = IngestMetrics()
    logger = instrument_logger(m, name="klogs_spark.test_selflog")
    instrument_logger(m, name="klogs_spark.test_selflog")  # idempotent
    # the counter sees what the configured level lets through — same as
    # the reference, whose handler wraps a level-filtered slog handler
    logger.setLevel(logging.INFO)
    logger.warning("buffer nearly full")
    logger.warning("slow flush")
    logger.error("flush failed")
    logger.info("recovered")
    assert m.logs_total == {"WARN": 2, "ERROR": 1, "INFO": 1}
    text = m.render_prometheus()
    assert 'klogs_spark_logs_total{level="WARN"} 2' in text
    assert 'klogs_spark_logs_total{level="ERROR"} 1' in text
    assert 'klogs_spark_logs_total{level="INFO"} 1' in text
    # cleanup: detach so other tests' loggers stay un-instrumented
    logging.getLogger("klogs_spark.test_selflog").handlers.clear()


def test_self_log_counter_sees_info_without_explicit_level():
    """r14 advisor: with no level of its own the engine logger inherited
    root's WARNING, so the CLI-wired counter could never observe INFO
    lines — unlike the reference handler, which counts every record it
    receives (logger.go:61). instrument_logger now pins INFO when the
    logger is level-NOTSET, and leaves an operator-chosen level alone."""
    import logging

    from klogs_spark.metrics import instrument_logger

    m = IngestMetrics()
    logger = instrument_logger(m, name="klogs_spark.test_selflog_info")
    assert logger.level == logging.INFO  # pinned, not inherited WARNING
    logger.info("ingest started")
    assert m.logs_total == {"INFO": 1}

    # an explicit operator level survives instrumenting
    m2 = IngestMetrics()
    quiet = logging.getLogger("klogs_spark.test_selflog_quiet")
    quiet.setLevel(logging.ERROR)
    instrument_logger(m2, name="klogs_spark.test_selflog_quiet")
    assert quiet.level == logging.ERROR
    quiet.info("dropped")
    quiet.error("kept")
    assert m2.logs_total == {"ERROR": 1}

    # a level configured on a PARENT namespace is respected too: quieting
    # 'klogs_spark.quietparent' must quiet its children (review-found:
    # the NOTSET check on the child alone overrode the operator's choice)
    m3 = IngestMetrics()
    parent = logging.getLogger("klogs_spark.quietparent")
    parent.setLevel(logging.ERROR)
    child = instrument_logger(m3, name="klogs_spark.quietparent.engine")
    assert child.level == logging.NOTSET  # not pinned
    child.info("dropped")
    child.error("kept")
    assert m3.logs_total == {"ERROR": 1}

    for n in (
        "klogs_spark.test_selflog_info",
        "klogs_spark.test_selflog_quiet",
        "klogs_spark.quietparent.engine",
    ):
        logging.getLogger(n).handlers.clear()
    logging.getLogger("klogs_spark.quietparent").setLevel(logging.NOTSET)


def test_self_log_counter_served_over_http_and_listener_error_logs():
    """The by-level series appears at /metrics, and the streaming
    listener's error path logs through the engine logger so the counter
    moves exactly when the reference's would (logger.go:61)."""
    import logging
    import urllib.request

    from klogs_spark.metrics import (
        ENGINE_LOGGER,
        IngestMetricsListener,
        MetricsServer,
        instrument_logger,
    )

    m = IngestMetrics()
    instrument_logger(m)
    try:
        listener = IngestMetricsListener(m)

        class _Term:
            exception = "boom"

        listener.onQueryTerminated(_Term())
        assert m.errors_total == 1
        assert m.logs_total.get("ERROR") == 1
        server = MetricsServer(m, "127.0.0.1:0")
        server.start()
        try:
            url = f"http://127.0.0.1:{server.port}/metrics"
            with urllib.request.urlopen(url, timeout=5) as r:
                body = r.read().decode()
            assert 'klogs_spark_logs_total{level="ERROR"} 1' in body
        finally:
            server.stop()
    finally:
        logging.getLogger(ENGINE_LOGGER).handlers.clear()


def test_metrics_http_server_serves_metrics_and_health():
    """Reference parity: /health answers OK, /metrics serves the exposition
    (pkg/instrument/metrics/metrics.go:26-57), unknown paths 404."""
    import urllib.error
    import urllib.request

    from klogs_spark.metrics import MetricsServer

    m = IngestMetrics()
    m.observe_batch(n_rows=7, seconds=0.2)
    server = MetricsServer(m, "127.0.0.1:0")  # ephemeral port
    server.start()
    try:
        base = f"http://127.0.0.1:{server.port}"
        with urllib.request.urlopen(f"{base}/health", timeout=5) as r:
            assert r.status == 200 and r.read() == b"OK"
        with urllib.request.urlopen(f"{base}/metrics", timeout=5) as r:
            body = r.read().decode()
            assert r.status == 200
            assert "klogs_spark_input_records_total 7" in body
            assert 'batch_size{quantile="0.5"} 7.0' in body
        try:
            urllib.request.urlopen(f"{base}/nope", timeout=5)
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as exc:
            assert exc.code == 404
    finally:
        server.stop()


def test_cluster_components_chain_and_singletons(spark):
    # chain 1-2-3 (transitive: 3 never pairs with 1 directly), pair 10-11,
    # singleton 20; node 99 appears only on the right side of a pair
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (98, 99)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20, 98, 99)], "id long"
    )
    out = {r.id: r.cluster_id
           for r in dd.cluster_components(pairs, nodes).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 98: 98, 99: 98}


def test_cluster_components_long_chain_converges(spark):
    # a 240-node chain has diameter >> the default round budget; pointer
    # doubling must still flood the min label to the far end in O(log n)
    # rounds (plain one-hop propagation would need ~240 and raise)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(240)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(241)], "id long")
    out = dd.cluster_components(pairs, nodes)
    assert out.filter(F.col("cluster_id") != 0).count() == 0


def test_cluster_components_raises_on_nonconvergence(spark):
    # never silently return partially-merged clusters
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(65)], "id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.cluster_components(pairs, nodes, max_iterations=2)


# --- semantic dedup / DSIR / Bloom decontamination --------------------------
def test_semantic_dedup_prunes_within_cluster_keep_lowest(spark):
    # two tight clusters along different axes; ids 0/1/2 near-identical in
    # cluster A, ids 10/11 near-identical in cluster B, id 20 a singleton
    def v(axis, eps):
        base = [0.0] * 8
        base[axis] = 1.0
        base[(axis + 1) % 8] = eps
        return base

    rows = [
        (0, v(0, 0.00)), (1, v(0, 0.01)), (2, v(0, 0.02)),
        (10, v(3, 0.00)), (11, v(3, 0.01)),
        (20, v(6, 0.0)),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, v(0, 0.0)), (1, v(3, 0.0)), (2, v(6, 0.0))],
        "centroid_id long, centroid array<double>",
    )
    out = {
        r.pruned_id: (r.keeper_id, r.centroid_id)
        for r in dd.semantic_dedup(emb, cents, threshold=0.99).collect()
    }
    # lowest id in each near-dup group survives; singleton untouched
    assert out == {1: (0, 0), 2: (0, 0), 11: (10, 1)}


def test_dsir_weights_prefer_target_like_docs(spark):
    from klogs_spark.ext import sampling as sp

    target_text = "alpha beta gamma delta alpha beta gamma delta"
    other_text = "omega sigma tau rho omega sigma tau rho"
    docs = spark.createDataFrame(
        [(0, target_text, "t"), (1, other_text, "r"), (2, target_text, "r")],
        "doc_id long, text string, source string",
    )
    target = docs.filter(F.col("source") == "t")
    lr = sp.dsir_logratios(target, docs, buckets=64)
    w = {r.id: r.log_weight for r in sp.dsir_weights(docs, lr, buckets=64).collect()}
    # docs made of target-domain tokens outscore the disjoint-vocab doc
    assert w[0] == w[2] > w[1]


def test_bloom_decontaminate_flags_benchmark_ngrams(spark):
    from klogs_spark.ext import text as tx

    bench_text = "one two three four five six seven eight"
    clean_text = "nine ten eleven twelve thirteen fourteen fifteen sixteen"
    mixed_text = "zz one two three four five yy xx ww vv uu"
    docs = spark.createDataFrame(
        [(0, bench_text), (1, clean_text), (2, mixed_text)],
        "doc_id long, text string",
    )
    bench = docs.filter(F.col("doc_id") == 0)
    out = {
        r.doc_id: (r.n_shingles, r.n_flagged)
        for r in tx.bloom_decontaminate(docs, bench, n=5).collect()
    }
    assert out[0] == (4, 4)      # benchmark doc fully self-flagged
    assert out[1][1] == 0        # disjoint vocab: nothing flagged
    # mixed doc contains exactly one benchmark 5-gram ("one two three four
    # five"); the other shingles stay clean at this filter occupancy
    assert out[2][0] == 7 and out[2][1] == 1


def test_pq_encode_and_adc_rank_self_first(spark):
    # 20 vectors in 8 dims (2 subspaces x 4 dims); vectors 16-19 duplicate
    # vectors 0-3, so their PQ codes must agree and ADC must rank a
    # duplicate's partner at distance == its own
    import random

    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(16)]
    rows += [(16 + j, list(rows[j][1])) for j in range(4)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = sim.pq_codebooks(emb, k=8, iterations=1, m=2, dim=8)
    codes = {
        (r.id, r.m): r.code for r in sim.pq_encode(emb, cb, m=2, dim=8).collect()
    }
    for j in range(4):
        assert codes[(j, 0)] == codes[(16 + j, 0)]
        assert codes[(j, 1)] == codes[(16 + j, 1)]
    query = emb.filter(F.col("vec_id") == 2)
    top = sim.pq_adc_topk(emb, cb, query, k=3, m=2, dim=8).collect()
    top_ids = [r.id for r in top]
    # the query vector and its exact duplicate share the minimal ADC distance
    assert set(top_ids[:2]) == {2, 18}
    assert top[0].adist_micros == top[1].adist_micros


def test_cms_never_undercounts_and_collisions_inflate(spark):
    from klogs_spark.ext import text as tx

    # 6 distinct tokens crammed into a width-2 sketch: collisions guaranteed
    rows = [(t,) for t in "aa bb cc dd ee ff aa aa bb".split()]
    toks = spark.createDataFrame(rows, "tok string")
    counters = tx.cms_counters(toks, width=2, depth=2)
    exact = {r.tok: r.cnt for r in toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    keys = toks.select("tok").distinct()
    est = {r.tok: r.cms_est for r in tx.cms_estimate(
        keys, counters, width=2, depth=2).collect()}
    assert set(est) == set(exact)
    for tok, c in exact.items():
        assert est[tok] >= c          # CMS can only overcount
    # with 6 tokens in 2 cells per row, at least one estimate must inflate
    assert any(est[t] > exact[t] for t in exact)


def test_hll_estimate_within_rse_at_scale(spark):
    from klogs_spark.ext import text as tx

    # 20k distinct values; 256 registers => RSE ~ 1.04/sqrt(256) = 6.5%
    vals = spark.range(20000).select(
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("tok")
    )
    regs = tx.hll_registers(vals)
    agg = regs.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("s"),
        F.count(F.lit(1)).alias("np"),
    ).collect()[0]
    m = tx.HLL_M
    est = tx.HLL_ALPHA * m * m / (agg.s + (m - agg.np))
    assert abs(est / 20000 - 1) < 0.2   # 3x the theoretical RSE
    # registers merge by max: two disjoint halves re-aggregated must give
    # exactly the full-corpus registers
    h1 = tx.hll_registers(vals.filter("tok < 'v2'"))
    h2 = tx.hll_registers(vals.filter("tok >= 'v2'"))
    merged = {
        (r.idx, r.rho)
        for r in h1.union(h2).groupBy("idx").agg(
            F.max("rho").alias("rho")).collect()
    }
    full = {(r.idx, r.rho) for r in regs.collect()}
    assert merged == full


def test_bloom_decontaminate_is_superset_of_exact(spark):
    """Bloom semantics: flagged counts can only exceed the exact benchmark
    n-gram matches (false positives allowed, false negatives never) — pinned
    on a seeded random corpus that forces shared and disjoint shingles."""
    import random

    from klogs_spark.ext import text as tx

    rnd = random.Random(99)
    vocab = [f"w{i}" for i in range(40)]
    docs = [
        (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randint(3, 30))))
        for i in range(30)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    bench = df.filter(F.col("doc_id") < 4)

    def shingles(text, n=5):
        toks = [t for t in text.split(" ") if t]
        return {
            " ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)
        } if len(toks) >= n else set()

    bench_sh = set().union(*(shingles(t) for _, t in docs[:4]))
    out = {r.doc_id: (r.n_shingles, r.n_flagged)
           for r in tx.bloom_decontaminate(df, bench, n=5).collect()}
    for i, t in docs:
        sh = shingles(t)
        if not sh:
            assert i not in out
            continue
        n_sh, n_fl = out[i]
        exact = len(sh & bench_sh)
        assert n_sh == len(sh)
        assert exact <= n_fl <= n_sh      # FP-only, never FN


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    from klogs_spark.ext.dedup import containment_pairs, doc_shingles, jaccard_pairs

    short = "alpha beta gamma delta epsilon"
    long = short + " " + " ".join(f"filler{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(0, short), (1, long), (2, "totally unrelated words here okay")],
        "doc_id long, text string",
    )
    sh = doc_shingles(docs)
    cont = {(r.id_a, r.id_b): r.containment
            for r in containment_pairs(sh, min_containment=0.9).collect()}
    # every shingle of the short doc appears in the long one
    assert cont[(0, 1)] == 1.0
    assert (1, 0) not in cont          # directional: long isn't in short
    # symmetric Jaccard dilutes the same pair below any useful threshold
    jac = {(r.id_a, r.id_b): r.jaccard
           for r in jaccard_pairs(sh, min_jaccard=0.0).collect()}
    assert jac[(0, 1)] < 0.1


def test_tracked_caches_release_after_ann_and_semdedup(spark):
    """Operator-internal caches (shingles, signatures, centroids, codebooks)
    register with ext.caching; release_tracked() must leave NO persisted
    blocks behind after an ANN + SemDeDup + MinHash sequence — the bounded
    cache-lifetime contract a long-lived session relies on."""
    from klogs_spark.ext.caching import release_tracked

    from klogs_spark.queries import registry
    from tests.conftest import SF_ORACLE

    release_tracked()  # start from a clean slate for this session
    specs = registry()
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    for name in ("ann_ivfpq_topk", "dedup_semantic", "dedup_minhash_lsh"):
        specs[name].fn(spark, SF_ORACLE).collect()
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() > before
    released = release_tracked()
    assert released > 0
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() <= before


def test_ivfpq_refresh_appends_without_rewriting_existing_files(spark, tmp_path):
    import glob
    import os

    from pyspark.sql import functions as F

    from klogs_spark.ext import ann_index
    from klogs_spark.views import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    path = str(tmp_path / "idx")
    ann_index.build_ivfpq_index(emb.filter(F.col("vec_id") < 450), path)
    before = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/codes/centroid_id=*/*.parquet")
    }
    ann_index.refresh_ivfpq_index(emb.filter(F.col("vec_id") >= 450), path)
    codes = spark.read.parquet(f"{path}/codes")
    # every corpus vector is coded exactly once after the refresh
    assert codes.select("id").distinct().count() == emb.count()
    assert codes.filter(F.col("id") >= 450).select("id").distinct().count() == 50
    # incremental contract: append-only — the base build's files are intact
    after = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/codes/centroid_id=*/*.parquet")
    }
    for f, ts in before.items():
        assert after.get(f) == ts, f"existing code file rewritten: {f}"
    assert len(after) > len(before), "refresh should add new code files"


def test_prefix_filter_blocking_is_lossless_and_selective(spark):
    """Prefix filtering must (a) return exactly the all-pairs result at
    the threshold (zero false negatives) and (b) generate strictly fewer
    candidates than the naive any-shared-token join."""
    from pyspark.sql import functions as F

    from klogs_spark.ext import dedup as dd
    from klogs_spark.views import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    t = 0.9
    got = sorted(
        map(tuple, dd.prefix_jaccard_join(docs, t).collect())
    )
    tk = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(dd.tokens_col(F.col("text"))).alias("tok"),
    ).distinct()
    truth = sorted(
        map(
            tuple,
            dd.jaccard_pairs(
                tk.withColumnRenamed("tok", "shingle"), t
            ).collect(),
        )
    )
    assert got == truth and len(got) > 0
    n_cand = dd.prefix_filter_pairs(tk, t).count()
    a = tk.select(F.col("id").alias("id_a"), "tok")
    b = tk.select(F.col("id").alias("id_b"), "tok")
    n_naive = (
        a.join(b, "tok").filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct().count()
    )
    assert n_cand < n_naive, (n_cand, n_naive)


def test_streaming_index_sink_equals_one_shot_refresh(spark, tmp_path):
    """3 real micro-batches through streaming_index_sink must leave the
    index byte-equivalent (same coded rows, same search answer) to a
    single refresh_ivfpq_index call over the whole tail."""
    from pyspark.sql import functions as F

    from klogs_spark.ext import ann_index
    from klogs_spark.views import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    base = emb.filter(F.col("vec_id") < 450)
    tail = emb.filter(F.col("vec_id") >= 450)

    one = str(tmp_path / "oneshot")
    ann_index.build_ivfpq_index(base, one)
    ann_index.refresh_ivfpq_index(tail, one)

    st = str(tmp_path / "streamed")
    ann_index.build_ivfpq_index(base, st)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    sink = ann_index.streaming_index_sink(st)
    batches = []
    counted = lambda b, i: (batches.append(i), sink(b, i))  # noqa: E731
    for lo, hi in ((450, 470), (470, 490), (490, 1 << 62)):
        (
            tail.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
            .write.mode("append").parquet(src)
        )
        q = (
            spark.readStream.schema(
                "vec_id bigint, embedding array<float>, label int"
            )
            .parquet(src)
            .writeStream.foreachBatch(counted)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    assert len(batches) == 3, f"expected 3 real micro-batches, got {batches}"

    codes_one = sorted(
        map(tuple, spark.read.parquet(f"{one}/codes").collect())
    )
    codes_st = sorted(map(tuple, spark.read.parquet(f"{st}/codes").collect()))
    assert codes_st == codes_one
    qv = [r.embedding for r in emb.filter("vec_id = 0").collect()][0]
    s_one = ann_index.ivfpq_search(spark, one, list(qv), k=5).collect()
    s_st = ann_index.ivfpq_search(spark, st, list(qv), k=5).collect()
    assert [tuple(r) for r in s_st] == [tuple(r) for r in s_one]


def test_pca_project_matches_numpy_and_orders_variance(spark):
    import numpy as np

    from klogs_spark.ext.embstats import pca_project
    from klogs_spark.views import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    proj, eigvals = pca_project(emb, k=3)
    rows = {r.id: (r.pc0, r.pc1, r.pc2) for r in proj.collect()}

    # ground truth entirely in numpy on the collected vectors
    data = sorted(
        (r.vec_id, np.array(r.embedding, dtype=np.float64))
        for r in emb.collect()
    )
    X = np.stack([v for _, v in data])
    mean = X.mean(axis=0)
    cov = (X - mean).T @ (X - mean) / len(X)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:3]

    # eigenvalues match and are descending
    assert eigvals == sorted(eigvals, reverse=True)
    np.testing.assert_allclose(eigvals, vals[order], rtol=1e-4)
    # projections match numpy's up to the fixed sign convention
    for axis, c in enumerate(order):
        vec = vecs[:, c]
        if vec[np.argmax(np.abs(vec))] < 0:
            vec = -vec
        want = (X - mean) @ vec
        got = np.array([rows[i][axis] for i, _ in data])
        np.testing.assert_allclose(got, want, atol=1e-5)
    # variance along pc0 >= pc1 >= pc2 on the actual projections
    var = [np.var([rows[i][a] for i, _ in data]) for a in range(3)]
    assert var[0] >= var[1] >= var[2]


def test_ffd_packing_matches_python_reference_and_bin_quality(spark):
    from pyspark.sql import functions as F

    from klogs_spark.ext.sampling import pack_first_fit_decreasing
    from klogs_spark.ext.text import token_count
    from klogs_spark.views import load_table

    BUDGET = 2000
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    d = docs.select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    got = {
        (r.source, r.doc_id): r.bin
        for r in pack_first_fit_decreasing(
            d, "n_tokens", budget=BUDGET, id_col="doc_id",
            partition_col="source",
        ).collect()
    }

    rows = d.collect()
    by_source: dict = {}
    for r in rows:
        by_source.setdefault(r.source, []).append((r.n_tokens, r.doc_id))
    want = {}
    loads_by_source = {}
    for source, items in by_source.items():
        loads: list = []
        for size, doc_id in sorted(items, key=lambda t: (-t[0], t[1])):
            for b, used in enumerate(loads):
                if used + size <= BUDGET:
                    loads[b] = used + size
                    want[(source, doc_id)] = b
                    break
            else:
                want[(source, doc_id)] = len(loads)
                loads.append(size)
        loads_by_source[source] = loads
    assert got == want
    # FFD quality: at most one bin per source at or under half budget
    # (any two half-empty bins would have been merged by first-fit)
    for source, loads in loads_by_source.items():
        small = [u for u in loads if u <= BUDGET // 2]
        assert len(small) <= 1, (source, loads)


def test_edit_distance_pairs_symspell_completeness(spark):
    from klogs_spark.ext import text as tx

    words = ["kitten", "sitten", "kitte", "kittens", "mitten",
             "banana", "bananna", "apple"]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    got = {(r.s_a, r.s_b, r.dist)
           for r in tx.edit_distance_pairs(df).collect()}
    # substitution, deletion, insertion — every distance-1 relation found
    expect = {
        ("kitten", "sitten", 1),   # substitution
        ("kitte", "kitten", 1),    # deletion
        ("kitten", "kittens", 1),  # insertion
        ("kitten", "mitten", 1),
        ("mitten", "sitten", 1),
        ("banana", "bananna", 1),
        ("kitte", "kitten", 1),
    }
    assert expect <= got
    # no false pairs: everything emitted really is distance <= 1
    import itertools

    def lev(a, b):
        d = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1,
                                       prev + (ca != cb))
        return d[len(b)]

    for s_a, s_b, dist in got:
        assert lev(s_a, s_b) == dist <= 1
    # apple is nobody's neighbor
    assert not any("apple" in p[:2] for p in got)
    # per-anchor cap (r20): each s_a keeps its max_neighbors smallest
    # s_b, deterministic by lexical order — mirrors the oracle's
    # row_number window exactly
    capped = {(r.s_a, r.s_b)
              for r in tx.edit_distance_pairs(df, max_neighbors=1).collect()}
    from collections import Counter

    anchors = Counter(a for a, _ in capped)
    assert all(c == 1 for c in anchors.values())
    expect_capped = {}
    for a, b, _ in got:
        if a not in expect_capped or b < expect_capped[a]:
            expect_capped[a] = b
    assert capped == {(a, b) for a, b in expect_capped.items()}


def test_misra_gries_guarantees_and_merge(spark):
    from collections import Counter

    from klogs_spark.ext import text as tx

    # skewed synthetic stream: heavy items + long uniform tail, split
    # across several partitions so the merge path actually runs
    items = (["alpha"] * 500 + ["beta"] * 300 + ["gamma"] * 120
             + [f"tail{i}" for i in range(400)] * 2)
    import random

    rng = random.Random(7)
    rng.shuffle(items)
    df = spark.createDataFrame(
        [(w,) for w in items], "tok string"
    ).repartition(8)
    exact = Counter(items)
    n = len(items)

    summary, err = tx.misra_gries_topk(df, "tok", k=16)
    est = {r.item: r.est for r in summary.collect()}
    assert len(est) <= 16
    # the MG contract, survives the merge: never overcount, undercount
    # bounded by the reported deficit
    for item, e in est.items():
        assert e <= exact[item]
        assert e >= exact[item] - err
    # every item more frequent than the error bound is guaranteed present
    for item, c in exact.items():
        if c > err:
            assert item in est, (item, c, err)
    assert err < n  # bound is meaningful, not degenerate
    # heavy hitters surface with the highest estimates
    top2 = {i for i, _ in sorted(est.items(), key=lambda kv: -kv[1])[:2]}
    assert top2 == {"alpha", "beta"}


def test_rebuild_if_drifted_gate_and_atomic_swap(spark, tmp_path):
    """The retrain gate: below threshold no new generation appears; at
    threshold a fresh generation is trained and COMMITTED atomically
    (marker file), and the serving pointer switches only then. A crashed
    (uncommitted) build directory is never served."""
    import os

    from pyspark.sql import functions as F

    from klogs_spark.ext import ann_index
    from klogs_spark.views import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    root = str(tmp_path / "annroot")
    base = emb.filter(F.col("vec_id") < 80)
    tail = emb.filter(F.col("vec_id") >= 80)

    p1 = ann_index.commit_index_build(base, root, ivf_k=4, refine_iters=1)
    assert ann_index.current_index_path(root) == p1
    assert ann_index.index_drift_ppm(spark, root) == 0

    # no drift yet -> gate must no-op even with threshold 1 ppm
    res = ann_index.rebuild_if_drifted(
        spark, emb, root, threshold_ppm=1, ivf_k=4, refine_iters=1
    )
    assert res["rebuilt"] is False and res["path"] == p1

    ann_index.refresh_ivfpq_index(tail, p1)
    drift = ann_index.index_drift_ppm(spark, root)
    n_base, n_all = base.count(), emb.count()
    assert drift == (n_all - n_base) * 1_000_000 // n_all

    # below-threshold: still serving b1
    res = ann_index.rebuild_if_drifted(
        spark, emb, root, threshold_ppm=drift + 1, ivf_k=4, refine_iters=1
    )
    assert res["rebuilt"] is False
    assert ann_index.current_index_path(root) == p1

    # an uncommitted (crashed) build must never be served
    os.makedirs(os.path.join(root, "builds", "b99", "codes"), exist_ok=True)
    assert ann_index.current_index_path(root) == p1

    # at threshold: retrain lands as b2 and the pointer switches
    res = ann_index.rebuild_if_drifted(
        spark, emb, root, threshold_ppm=drift, ivf_k=4, refine_iters=1
    )
    assert res["rebuilt"] is True
    p2 = ann_index.current_index_path(root)
    assert p2.endswith("b2") and p2 == res["path"]
    assert ann_index.index_drift_ppm(spark, root) == 0
    # idempotent re-run: serving build has no drift, gate no-ops
    res2 = ann_index.rebuild_if_drifted(
        spark, emb, root, threshold_ppm=1, ivf_k=4, refine_iters=1
    )
    assert res2["rebuilt"] is False and res2["path"] == p2


def test_repeated_ngram_within_doc_coverage(spark):
    """within_doc=True adds the self-repetition half of ExactSubstr: a
    3-gram occurring twice inside one doc covers its positions even when
    no other document shares it; within_doc=False (the cross-doc default)
    must ignore it. min_docs=None disables the cross test entirely."""
    from klogs_spark.ext.dedup import repeated_ngram_coverage

    docs = spark.createDataFrame(
        [
            # "a b c" repeats at positions 0 and 3 -> covers 0..5 of 7
            (1, "a b c a b c d"),
            (2, "x y z w v u"),          # no repeats anywhere
            (3, "p q r shared1 shared2 shared3"),   # cross-doc only
            (4, "shared1 shared2 shared3 s t"),
        ],
        "doc_id long, text string",
    )

    def by_id(df):
        return {r.id: r for r in df.collect()}

    # pure self (min_docs=None): only doc 1 has coverage
    self_only = by_id(
        repeated_ngram_coverage(docs, n=3, min_docs=None, within_doc=True)
    )
    assert self_only[1].covered_positions == 6
    assert self_only[1].n_tokens == 7
    assert self_only[2].covered_positions == 0
    assert self_only[3].covered_positions == 0
    assert self_only[4].covered_positions == 0

    # cross-only default: docs 3/4 share a 3-gram; doc 1's self-repeat
    # is invisible
    cross = by_id(repeated_ngram_coverage(docs, n=3, min_docs=2))
    assert cross[1].covered_positions == 0
    assert cross[3].covered_positions == 3
    assert cross[4].covered_positions == 3

    # combined: union of both halves
    both = by_id(
        repeated_ngram_coverage(docs, n=3, min_docs=2, within_doc=True)
    )
    assert both[1].covered_positions == 6
    assert both[3].covered_positions == 3
    assert both[4].covered_positions == 3

    # min_docs=None without within_doc is a loud error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="within_doc"):
        repeated_ngram_coverage(docs, n=3, min_docs=None)


def test_remove_repeated_spans_semantics(spark):
    """Removal drops exactly the covered positions and rebuilds the text
    in order; untouched and fully-covered docs hit their documented
    edges."""
    from klogs_spark.ext.dedup import remove_repeated_spans

    docs = spark.createDataFrame(
        [
            (1, "p q r shared1 shared2 shared3"),
            (2, "shared1 shared2 shared3 s t"),
            (3, "u v w x y"),                      # untouched
            (4, "shared1 shared2 shared3"),        # fully covered
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in remove_repeated_spans(docs, n=3, min_docs=2).collect()}
    assert out[1].clean_text == "p q r"
    assert (out[1].n_tokens, out[1].kept_tokens) == (6, 3)
    assert out[2].clean_text == "s t"
    assert out[3].clean_text == "u v w x y"
    assert out[3].kept_tokens == 5
    assert out[4].clean_text == "" and out[4].kept_tokens == 0

    # within_doc=True also strips same-document choruses
    solo = spark.createDataFrame(
        [(9, "a b c a b c tail")], "doc_id long, text string"
    )
    r = remove_repeated_spans(
        solo, n=3, min_docs=None, within_doc=True
    ).collect()[0]
    assert r.clean_text == "tail" and r.kept_tokens == 1


def test_power_iteration_matches_eigh_direction(spark):
    """The integer-exact power iteration must converge to the same top
    principal direction numpy's exact eigh finds (|cosine| ~ 1), and its
    Rayleigh eigenvalue estimate must approximate the top eigenvalue."""
    import numpy as np

    from klogs_spark.ext.embstats import power_iteration_component
    from klogs_spark.views import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = power_iteration_component(emb, squarings=7).collect()
    comp = np.array(
        [r.val for r in sorted(
            (r for r in rows if r.kind == "component"), key=lambda r: r.id
        )]
    )
    lam = next(r.val for r in rows if r.kind == "eigenvalue")

    X = np.array([list(r.embedding) for r in emb.collect()], dtype=np.float64)
    C = np.cov(X, rowvar=False, bias=True)
    vals, vecs = np.linalg.eigh(C)
    top = vecs[:, -1]
    cos = abs(comp @ top) / (np.linalg.norm(comp) * np.linalg.norm(top))
    assert cos > 0.98, cos
    assert abs(lam - vals[-1]) / vals[-1] < 0.05, (lam, vals[-1])
    # the state really is integer micro-units
    assert all(float(v).is_integer() for v in comp)


def test_streaming_index_sink_failure_replay_is_idempotent(spark, tmp_path):
    """Mid-stream failure semantics for the index sink (VERDICT r12 #6):
    (a) a batch that dies BEFORE its refresh leaves the index untouched —
    searchers see only committed cells, never a torn one; after restart
    the batch replays and completes; (b) a batch whose sink work committed
    but whose checkpoint didn't (the foreachBatch at-least-once window) is
    re-delivered and SKIPPED via its commit marker — codes are never
    double-appended. Final state must equal a one-shot refresh."""
    from pyspark.sql import functions as F

    from klogs_spark.ext import ann_index
    from klogs_spark.views import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    base = emb.filter(F.col("vec_id") < 450)
    tail = emb.filter(F.col("vec_id") >= 450)

    one = str(tmp_path / "oneshot")
    ann_index.build_ivfpq_index(base, one)
    ann_index.refresh_ivfpq_index(tail, one)
    codes_one = sorted(
        map(tuple, spark.read.parquet(f"{one}/codes").collect())
    )

    st = str(tmp_path / "streamed")
    ann_index.build_ivfpq_index(base, st)
    base_codes = spark.read.parquet(f"{st}/codes").count()
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    sink = ann_index.streaming_index_sink(st)
    state = {"fail_before": False, "fail_after": False}

    def flaky(batch, batch_id):
        if state["fail_before"]:
            state["fail_before"] = False
            raise RuntimeError("injected crash BEFORE sink work")
        sink(batch, batch_id)
        if state["fail_after"]:
            state["fail_after"] = False
            raise RuntimeError("injected crash AFTER sink work")

    def run_stream():
        q = (
            spark.readStream.schema(
                "vec_id bigint, embedding array<float>, label int"
            )
            .parquet(src)
            .writeStream.foreachBatch(flaky)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    from pyspark.errors.exceptions.captured import StreamingQueryException

    # batch 0: clean
    tail.filter("vec_id < 470").write.mode("append").parquet(src)
    run_stream()
    after_b0 = spark.read.parquet(f"{st}/codes").count()
    assert after_b0 > base_codes

    # batch 1: dies BEFORE the refresh — index must be untouched and a
    # search must still serve the committed state
    tail.filter("vec_id >= 470 AND vec_id < 490").write.mode(
        "append"
    ).parquet(src)
    state["fail_before"] = True
    with pytest.raises(StreamingQueryException, match="BEFORE"):
        run_stream()
    assert spark.read.parquet(f"{st}/codes").count() == after_b0
    qv = [r.embedding for r in emb.filter("vec_id = 0").collect()][0]
    assert len(ann_index.ivfpq_search(spark, st, list(qv), k=5).collect()) == 5

    # restart: batch 1 replays and completes (codes are one row per
    # (id, subspace) — derive the per-vector row count from the base)
    rows_per_vec = base_codes // 450
    run_stream()
    after_b1 = spark.read.parquet(f"{st}/codes").count()
    assert after_b1 == after_b0 + 20 * rows_per_vec

    # batch 2: sink work commits, then the query dies before the
    # checkpoint commit — the replay must SKIP (marker), not double-append
    tail.filter("vec_id >= 490").write.mode("append").parquet(src)
    state["fail_after"] = True
    with pytest.raises(StreamingQueryException, match="AFTER"):
        run_stream()
    committed_after_crash = spark.read.parquet(f"{st}/codes").count()
    run_stream()  # re-delivers batch 2
    assert (
        spark.read.parquet(f"{st}/codes").count() == committed_after_crash
    ), "replay of a committed batch must not double-append"

    # end state byte-equivalent to the one-shot refresh
    codes_st = sorted(
        map(tuple, spark.read.parquet(f"{st}/codes").collect())
    )
    assert codes_st == codes_one
    s_one = ann_index.ivfpq_search(spark, one, list(qv), k=5).collect()
    s_st = ann_index.ivfpq_search(spark, st, list(qv), k=5).collect()
    assert [tuple(r) for r in s_st] == [tuple(r) for r in s_one]


def test_redact_pii_typed_tokens_and_counts(spark):
    """Operator-level PII scrub contract: per-kind counts measure the RAW
    text; replacement is sequential in PII_PATTERNS order (an email's
    host is consumed as <EMAIL> before the ipv4 pass); untouched text
    passes through byte-identical."""
    from klogs_spark.ext.text import redact_pii

    rows = [
        (1, "reach me at bob.smith+x@corp.example.org or 192.168.0.1"),
        (2, "ssn 123-45-6789 phone 555-123-4567 and +155 123 4567"),
        (3, "two mails a@b.io c@d.co plus server 10.0.0.254 10.1.2.3"),
        (4, "no pii here, just tokens and 12345 numbers 1.5 floats"),
        (5, "ip-in-email-host x@10.0.0.1 is not an email (numeric tld)"),
    ]
    out = {
        r.doc_id: r
        for r in redact_pii(
            spark.createDataFrame(rows, "doc_id int, text string")
        ).collect()
    }
    r1 = out[1]
    assert (r1.n_email, r1.n_ipv4, r1.n_ssn, r1.n_phone) == (1, 1, 0, 0)
    assert r1.clean_text == "reach me at <EMAIL> or <IPV4>"
    r2 = out[2]
    assert (r2.n_ssn, r2.n_phone) == (1, 2)
    assert r2.clean_text == "ssn <SSN> phone <PHONE> and <PHONE>"
    r3 = out[3]
    assert (r3.n_email, r3.n_ipv4) == (2, 2)
    assert r3.clean_text == "two mails <EMAIL> <EMAIL> plus server <IPV4> <IPV4>"
    r4 = out[4]
    assert (r4.n_email, r4.n_ipv4, r4.n_ssn, r4.n_phone) == (0, 0, 0, 0)
    assert r4.clean_text == r4.text  # passthrough byte-identical
    r5 = out[5]
    # numeric TLD: not an email, but the host IS an ipv4
    assert (r5.n_email, r5.n_ipv4) == (0, 1)
    assert "<IPV4>" in r5.clean_text and "<EMAIL>" not in r5.clean_text


def test_remove_from_ivfpq_index_cell_pruned_and_unsearchable(spark, tmp_path):
    """GDPR removal from the deployed index: removed ids stop being
    retrievable, ONLY the affected cells' files are rewritten (the scale
    claim — untouched cell files are byte-identical on disk), the
    quantizer/codebooks are untouched, and removing unknown ids is a
    no-op."""
    import os

    from pyspark.sql import functions as F

    from klogs_spark.ext import ann_index
    from klogs_spark.views import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    path = str(tmp_path / "idx")
    ann_index.build_ivfpq_index(emb, path)

    qv = [r.embedding for r in emb.filter("vec_id = 0").collect()][0]
    before = [
        r.id for r in ann_index.ivfpq_search(spark, path, list(qv), k=5).collect()
    ]
    victim = before[1]  # a real current answer, not the query itself

    # snapshot the on-disk state of every cell + the trained artifacts
    def cell_files():
        out = {}
        cdir = os.path.join(path, "codes")
        for d in os.listdir(cdir):
            if d.startswith("centroid_id="):
                full = os.path.join(cdir, d)
                out[d] = {
                    f: os.path.getmtime(os.path.join(full, f))
                    for f in os.listdir(full)
                }
        return out

    pre = cell_files()
    cents_pre = sorted(
        map(tuple, spark.read.parquet(f"{path}/centroids").collect())
    )

    res = ann_index.remove_from_ivfpq_index(spark, path, [victim])
    assert res["cells_rewritten"] >= 1
    assert res["rows_removed"] > 0

    post = cell_files()
    changed = {d for d in pre if pre[d] != post.get(d)}
    untouched = {d for d in pre if pre[d] == post.get(d)}
    assert len(changed) == res["cells_rewritten"]
    assert untouched, "some cells must remain byte-identical"

    after = [
        r.id for r in ann_index.ivfpq_search(spark, path, list(qv), k=5).collect()
    ]
    assert victim not in after
    assert len(after) == 5  # the next candidate fills the slot
    # trained artifacts untouched (FAISS remove_ids semantics: no retrain)
    assert sorted(
        map(tuple, spark.read.parquet(f"{path}/centroids").collect())
    ) == cents_pre

    # unknown ids: no-op, nothing rewritten
    res2 = ann_index.remove_from_ivfpq_index(spark, path, [10_000_000])
    assert res2 == {"rows_removed": 0, "cells_rewritten": 0}
    assert cell_files() == post


def test_bpe_train_merges_textbook_sequence_and_guards(spark):
    """Sennrich et al.'s running example must produce the canonical merge
    sequence (es, est, lo, low, ...); the boundary-guarded encoding must
    neither rewrite overlapping occurrences nor false-match inside longer
    symbols; exhausted vocab stops early."""
    from klogs_spark.ext.text import bpe_train_merges

    docs = spark.createDataFrame(
        [(1, " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6
                      + ["widest"] * 3))],
        "doc_id int, text string",
    )
    got = [
        (r.merge_rank, r.left_sym, r.right_sym, r.merged, r.weighted_count)
        for r in bpe_train_merges(docs, k=4).collect()
    ]
    assert got == [
        (1, "e", "s", "es", 9),
        (2, "es", "t", "est", 9),
        (3, "l", "o", "lo", 7),
        (4, "lo", "w", "low", 7),
    ]

    # overlap: 'aaa' has pairs (a,a)x2 but ONE greedy merge per word pass
    # -> after merging (a,a), 'aaa' becomes 'aa'+'a', so round 2's top
    # pair is (aa, a), never a phantom second (a, a) inside one triple
    tri = spark.createDataFrame(
        [(1, "aaa aaa aaa")], "doc_id int, text string"
    )
    got = [
        (r.left_sym, r.right_sym, r.weighted_count)
        for r in bpe_train_merges(tri, k=2).collect()
    ]
    assert got == [("a", "a", 6), ("aa", "a", 3)]

    # single-char vocab exhausts instantly: no merges, no crash
    assert bpe_train_merges(
        spark.createDataFrame([(1, "a b c")], "doc_id int, text string"),
        k=3,
    ).count() == 0


def test_avi_mjpeg_demux_round_trip_and_corruption_contract(spark):
    """The AVI demuxer must return frame bytes EXACTLY as written
    (RIFF pad bytes never leak into a frame — odd-sized JPEGs are the
    norm), preserve stream order, reject non-AVI payloads with None,
    and surface a corrupt FRAME inside a good container as a NULL row
    at its index rather than dropping it."""
    from klogs_spark.ext import multimodal as mm

    frames = [mm.synth_jpeg_gray_blocks(s) for s in (1, 7, 13)]
    assert any(len(f) % 2 for f in frames), "want an odd-sized frame"
    avi = mm.synth_avi_mjpeg(frames, 16, 8)
    out = mm.decode_avi_mjpeg_frames(avi)
    assert out == frames  # byte-exact, ordered, pad bytes stripped
    assert mm.decode_avi_mjpeg_frames(b"RIFFxxxxWAVE") is None
    assert mm.decode_avi_mjpeg_frames(None) is None
    # a structurally valid zero-frame AVI is an empty video, not corrupt
    assert mm.decode_avi_mjpeg_frames(mm.synth_avi_mjpeg([], 8, 8)) == []
    # interleaved layout: frames inside 'rec ' sub-LISTs still demux
    rec_body = b"rec " + mm._riff_chunk(b"00dc", frames[0]) + mm._riff_chunk(
        b"00dc", frames[1]
    )
    movi = mm._riff_list(
        b"movi",
        mm._riff_chunk(b"LIST", rec_body) + mm._riff_chunk(b"00dc", frames[2]),
    )
    interleaved = b"RIFF" + len(b"AVI " + movi).to_bytes(4, "little") + b"AVI " + movi
    assert mm.decode_avi_mjpeg_frames(interleaved) == frames

    # corrupt middle frame -> NULL stats row at frame_idx 1, others real
    bad = mm.synth_avi_mjpeg([frames[0], b"\xff\xd8garbage", frames[2]], 16, 8)
    media = spark.createDataFrame(
        [(1, bytearray(bad))], "media_id long, payload binary"
    )
    rows = {
        r.frame_idx: (r.width, r.n_vals)
        for r in mm.video_frame_pixel_stats(media).collect()
    }
    assert set(rows) == {0, 1, 2}
    assert rows[1] == (None, None)
    # seed 1 -> wb=2, hb=2 -> 16x16 frame = 256 pixel values
    assert rows[0] == (16, 256) and rows[2][1] is not None


def test_classifier_score_honors_sparse_weight_tables(spark):
    """A sparse model (only nonzero weights stored) must score absent
    (bucket, class) pairs as 0: a class with NO matching rows still wins
    when every stored weight is negative, a doc whose features all hash
    to unweighted buckets still appears (score 0, lowest class), and
    n_features counts the doc's features regardless of sparsity."""
    from klogs_spark.ext.text import classifier_score
    from klogs_spark.ext.hashing import md5_long

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma")],
        "doc_id int, text string",
    )
    n_buckets = 64
    # find the actual buckets of doc 1's features (alpha, beta, 'alpha beta')
    feats = spark.createDataFrame(
        [("alpha",), ("beta",), ("alpha beta",), ("gamma",)], "f string"
    ).select("f", (md5_long(F.col("f")) % n_buckets).alias("b")).collect()
    b = {r.f: r.b for r in feats}
    # sparse model: class 0 and 1 exist; ONLY class 1 has stored weights,
    # all negative, on doc-1's buckets; doc 2's bucket is unweighted
    rows = [(b["alpha"], 1, -5), (b["beta"], 1, -7), (b["alpha beta"], 1, -3)]
    # class 0 present in the model via one weight on an unused bucket
    unused = next(x for x in range(n_buckets) if x not in b.values())
    rows.append((unused, 0, -1))
    weights = spark.createDataFrame(rows, "b long, c int, w long")
    got = {
        r.id: (r.best_class, r.best_score_micro, r.n_features)
        for r in classifier_score(docs, weights, n_buckets).collect()
    }
    # doc 1: class 0 scores 0 (no overlap), class 1 scores -15 -> class 0
    assert got[1] == (0, 0, 3)
    # doc 2: all buckets unweighted -> both classes 0, tie -> class 0
    assert got[2] == (0, 0, 1)


def test_winnowing_selects_rightmost_min_and_guarantees_density(spark):
    """MOSS winnowing invariants on a hand-built doc: each window of w
    consecutive 3-gram hashes contributes its min with RIGHTMOST
    tie-break (equal hashes from a repeated trigram must select the
    later position); every stretch of w windows has >= 1 selection
    (guaranteed density); and two docs sharing a long run share a
    fingerprint."""
    from klogs_spark.ext.dedup import (
        WINNOW_WINDOW,
        winnowing_fingerprints,
        winnowing_pairs,
    )

    # 'a b c' appears twice -> identical gram hashes at two positions;
    # if both windows covering them tie, the RIGHTMOST position wins
    shared = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, "a b c x y z a b c " + shared),
            (2, shared + " completely different tail words here now"),
            (3, "unrelated text with no overlap at all whatsoever okay"),
        ],
        "doc_id int, text string",
    )
    fp = winnowing_fingerprints(docs).collect()
    by_doc: dict = {}
    for r in fp:
        by_doc.setdefault(r.id, []).append((r.mh, r.pos))
    # density: doc 1 has G grams -> G - w + 1 windows; selected positions
    # must leave no gap of w or more consecutive unselected positions
    import hashlib

    def md5_long(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    toks1 = ("a b c x y z a b c " + shared).split()
    grams1 = [" ".join(toks1[i:i + 3]) for i in range(len(toks1) - 2)]
    hs1 = [md5_long(g) for g in grams1]
    w = WINNOW_WINDOW
    # reference selection: rightmost min per window, deduped
    expected = set()
    for i in range(len(hs1) - w + 1):
        win = hs1[i:i + w]
        m = min(win)
        pos = i + max(j for j in range(w) if win[j] == m) + 1  # 1-based
        expected.add((m, pos))
    assert set(by_doc[1]) == expected
    sel_pos = sorted(p for _, p in by_doc[1])
    gaps = [b - a for a, b in zip(sel_pos, sel_pos[1:])]
    assert all(g <= w for g in gaps), f"density hole: {gaps}"
    # the repeated 'a b c' trigram: both positions hash equal; wherever a
    # window contained both, the selection must be the RIGHTMOST (pos 7)
    dup_hash = md5_long("a b c")
    dup_positions = {p for h, p in by_doc[1] if h == dup_hash}
    assert 7 in dup_positions
    # shared long run -> docs 1 and 2 pair; doc 3 pairs with nobody
    pairs = {(r.id_a, r.id_b) for r in winnowing_pairs(docs, 1).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_bpe_tokenize_docs_hand_computed(spark):
    """Per-document counts on the textbook corpus, hand-derived: after
    the 4 canonical merges (es, est, lo, low) 'low'=1 token,
    'lower'=low+e+r=3, 'newest'=n+e+w+est=4, 'widest'=w+i+d+est=4;
    within-document repetition multiplies counts, never re-joins."""
    from klogs_spark.ext.text import bpe_tokenize_docs

    docs = spark.createDataFrame(
        [
            (1, "low low low lower newest"),
            (2, "widest newest low"),
            (3, "a·b low"),  # sentinel word excluded on both engines
        ],
        "doc_id int, text string",
    )
    got = {
        r.id: (r.n_words, r.n_tokens, r.n_chars)
        for r in bpe_tokenize_docs(docs, k=4).collect()
    }
    # doc1: words 5; tokens 3*1 + 3 + 4 = 10; chars 3*3+5+6 = 20
    # doc2: words 3; tokens 4 + 4 + 1 = 9; chars 6+6+3 = 15
    # doc3: sentinel word dropped -> 1 word, 1 token ('low' learned), 3 chars
    assert got == {1: (5, 10, 20), 2: (3, 9, 15), 3: (1, 1, 3)}


def test_lm_bigram_scores_hand_computed(spark):
    """Hand-checkable smoothing arithmetic: V=4 (vocabulary counts EVERY
    corpus token, including those of bigram-less docs — 'solo' is a word
    the model must reserve mass for), p(b|a)=(3+1)/(3+4),
    p(a|b)=p(c|b)=(1+1)/(2+4); per-bigram micro-nats floor once, then
    integer sums per doc. Docs with <2 tokens are omitted from output."""
    import math

    from klogs_spark.ext.text import lm_bigram_scores

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "solo")],
        "doc_id long, text string",
    )
    got = {
        r.id: (r.n_bigrams, r.nll_micro_nats)
        for r in lm_bigram_scores(docs).collect()
    }
    mn_ab = math.floor(-math.log(4 / 7) * 1e6)   # 559615
    mn_ba = math.floor(-math.log(2 / 6) * 1e6)   # 1098612
    assert got == {
        1: (3, 2 * mn_ab + mn_ba),
        2: (2, mn_ab + mn_ba),
    }
    # atypical transitions score higher per-bigram NLL than common ones
    assert got[2][1] / got[2][0] > got[1][1] / got[1][0]


def test_contamination_ngram_join_matches_semantics_and_guards(spark):
    """Equi-join decontamination must find token-boundary matches anywhere
    in the doc (not just at the fingerprinted first position), ignore
    mid-token substring artifacts, handle probes longer than the key, and
    reject probes shorter than the key loudly."""
    from klogs_spark.ext.dedup import contamination_ngram_join

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "x y alpha beta gamma delta epsilon tail"),  # mid-doc hit
            (3, "zzalpha beta gamma delta epsilon"),  # mid-token: NOT a hit
            (4, "alpha beta gamma other words here"),  # key hits, verify fails
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")],
        "probe_id long, probe string",
    )
    got = sorted(
        (r.doc_id, r.probe_id)
        for r in contamination_ngram_join(docs, probes, n=3).collect()
    )
    assert got == [(1, 100), (2, 100)]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="shorter than"):
        contamination_ngram_join(
            docs,
            spark.createDataFrame(
                [(200, "too short")], "probe_id long, probe string"
            ),
            n=3,
        )


def test_bpe_sentinel_words_excluded_not_corrupting(spark):
    """A corpus word containing the reserved interpunct sentinel must be
    EXCLUDED from the frequency table (it would corrupt the boundary
    encoding and silently derail every later merge) — the clean words'
    merge sequence is unaffected by its presence."""
    from klogs_spark.ext.text import bpe_train_merges

    clean = spark.createDataFrame(
        [(1, "low low low lower")], "doc_id int, text string"
    )
    dirty = spark.createDataFrame(
        [(1, "low low low lower a·b a·b·c")], "doc_id int, text string"
    )
    as_rows = lambda df: [  # noqa: E731
        (r.left_sym, r.right_sym, r.weighted_count)
        for r in bpe_train_merges(df, k=3).collect()
    ]
    assert as_rows(dirty) == as_rows(clean)


def test_gopher_rules_each_rule_and_plan_shape(spark):
    """Every Gopher rule must flip on a crafted violating document (the
    synthetic corpus never exercises bullets/ellipses/symbols), and the
    battery must stay a row-local zero-shuffle projection."""
    from klogs_spark.ext.text import GOPHER_REQUIRED_STOPS, gopher_rules

    good_words = ("the be to of and that have with " + "solid " * 60).strip()
    rows = [
        (0, good_words),                               # passes everything
        (1, "the be of tiny"),                         # R0: too few words
        (2, "a " * 80 + "the be"),                     # R1: mean len < 3
        (3, ("#### ### " * 30 + good_words)),          # R2: symbol ratio
        (4, "\n".join(["- bullet point here"] * 19 + [good_words])),  # R3
        (5, "\n".join(["trailing thing..."] * 9 + [good_words])),     # R4
        (6, ("12 34 56 78 90 " * 12 + "the be of and that have with")),  # R5
        (7, ("solid " * 60).strip()),                  # R6: no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in gopher_rules(df).collect()}
    assert out[0].keep == 1 and out[0].rules_mask == 127
    expect_failed_bit = {1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 6: 5, 7: 6}
    for doc, bit in expect_failed_bit.items():
        assert out[doc].keep == 0, (doc, out[doc])
        assert out[doc].rules_mask & (1 << bit) == 0, (doc, bin(out[doc].rules_mask))

    plan = gopher_rules(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_trigram_backoff_omits_short_docs_instead_of_crashing(spark):
    """Review-found: slice(t, 1, size-2) rejects negative lengths, so a
    corpus containing empty/1-token/2-token documents crashed the whole
    query. Docs below the n-gram order must simply be omitted — the
    docstring's contract and what the oracle's generate_series form does."""
    from klogs_spark.ext.text import lm_trigram_backoff_scores

    df = spark.createDataFrame(
        [(0, ""), (1, "one"), (2, "two words"), (3, "three word doc"),
         (4, "a b c d e"), (5, "a b c d e")],
        "doc_id long, text string",
    )
    rows = {r.id for r in lm_trigram_backoff_scores(df).collect()}
    assert rows == {3, 4, 5}


def test_instrument_logger_never_relevels_root():
    """r15 advisor: if the target name resolves to the ROOT logger,
    setLevel(INFO) would mutate global logging for the whole process —
    counting on root is allowed, re-leveling it is not."""
    import logging

    from klogs_spark.metrics import IngestMetrics, instrument_logger

    before = logging.root.level
    try:
        logger = instrument_logger(IngestMetrics(), name="")
        assert logger is logging.root
        assert logging.root.level == before
    finally:
        logging.root.setLevel(before)
        logging.root.handlers = [
            h for h in logging.root.handlers
            if type(h).__name__ != "SelfLogCounterHandler"
        ]


def test_entry_day_dir_handles_bare_filenames():
    """r15 advisor: a manifest entry with no directory component (an
    explicit-files publish of a bare filename) must group as
    unpartitioned (''), not raise IndexError."""
    from klogs_spark.manifest import _entry_day_dir

    assert _entry_day_dir("date=2026-01-01/part-0.parquet") == "date=2026-01-01"
    assert _entry_day_dir("/abs/src/date=2026-01-02/p.parquet") == "date=2026-01-02"
    assert _entry_day_dir("part-0.parquet") == ""


def test_c4_line_rules_each_rule_flips_on_a_crafted_violator(spark):
    """Every C4 line rule and page gate must flip on a crafted violating
    page, and the battery must stay a row-local zero-shuffle projection."""
    from pyspark.sql import functions as F

    from klogs_spark.ext.web import c4_line_stats

    good = "this line has plenty of words."
    g5 = [good] * 5  # C4_MIN_KEPT_LINES == 5 (Raffel et al. §2.2)
    pages = [
        (0, g5),                                       # keeps everything
        (1, g5[:4] + ["no terminal punct here"]),      # line: punct rule
        (2, g5[:4] + ["too few."]),                    # line: min words
        (3, g5[:4] + ["enable javascript to view this page."]),
        (4, g5[:4]),                                   # page: < 5 kept
        (5, g5 + ["Lorem Ipsum dolor sit amet."]),
        (6, g5 + ["code { leaked } here."]),
    ]
    df = spark.createDataFrame(pages, "doc_id long, lines array<string>")
    out = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id", c4_line_stats(F.col("lines")).alias("s")
        ).collect()
    }
    assert out[0].keep == 1 and out[0].rules_mask == 7
    assert out[0].n_kept_lines == 5
    assert out[0].kept_chars == 5 * len(good)
    # per-LINE violations drop the line (and with it the page, which
    # then has only 4 kept lines -> bit 0 clears)
    for doc in (1, 2, 3):
        assert out[doc].n_kept_lines == 4, doc
        assert out[doc].keep == 0 and out[doc].rules_mask == 6, doc
    assert out[4].keep == 0 and out[4].rules_mask == 6
    # page-level gates: the violating LINE itself survives the line
    # rules but poisons the page bit
    assert out[5].n_kept_lines == 6
    assert out[5].keep == 0 and out[5].rules_mask == 5
    assert out[6].n_kept_lines == 6
    assert out[6].keep == 0 and out[6].rules_mask == 3

    plan = (
        df.select(c4_line_stats(F.col("lines")))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_normalize_typography_each_mapping(spark):
    """Each typographic mapping independently: smart quotes, both dashes,
    NBSP, every zero-width char, BEL, and the space-run collapse."""
    from pyspark.sql import functions as F

    from klogs_spark.ext.web import normalize_typography

    cases = [
        (0, "“quoted”", '"quoted"'),
        (1, "‘single’", "'single'"),
        (2, "em—dash en–dash", "em-dash en-dash"),
        (3, "a\u00a0b", "a b"),
        (4, "z​w‌s‍p﻿!", "zwsp!"),
        (5, "bel\x07gone", "belgone"),
        (6, "many   spaces  collapse", "many spaces collapse"),
        (7, "already clean.", "already clean."),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s, _ in cases], "id long, s string"
    )
    got = {
        r.id: r.n
        for r in df.select(
            "id", normalize_typography(F.col("s")).alias("n")
        ).collect()
    }
    for i, _, want in cases:
        assert got[i] == want, (i, repr(got[i]), repr(want))


def test_sample_epoch_plan_zero_token_source_matches_oracle(spark, tmp_path):
    """Review r20: a source whose every doc is empty/whitespace has 0
    tokens; x/0 is NULL in Spark but Inf under DuckDB's IEEE default, so
    without the greatest(n_tokens, 1) guard the two engines diverge.
    Drive both sides on a corpus that hits the branch."""
    import duckdb

    rows = [(i, f"w{i} x y z", f"src{'A' if i < 5 else 'B'}")
            for i in range(10)]
    # srcB docs are whitespace-only -> n_tokens = 0 for the whole source
    rows = [(i, t if s == "srcA" else "   ", s) for i, t, s in rows]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    p = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(p)

    from klogs_spark.queries import _merged_specs

    spec = _merged_specs()["sample_epoch_plan"]
    srows = sorted(map(tuple, spec.fn(spark, str(tmp_path)).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{p}/*.parquet'")
    drows = sorted(map(tuple, con.execute(spec.oracle).fetchall()))
    assert srows == drows
    b = next(r for r in srows if r[0] == "srcB")
    assert b[2] == 0          # zero tokens
    # pow(0, alpha) = 0 weight -> 0 target -> 0 epochs; the guard's job
    # is that BOTH engines produce this 0.0 (not Spark NULL vs DuckDB
    # Inf-capped 2.0), which the equality above already proves
    assert b[4] == 0.0 and b[4] is not None
    assert b[5] == 0.0        # no shortfall from a weightless source


# --- r21 optimization-equivalence pins ---------------------------------------
def test_edit_distance_pairs_empty_string_exactly_once(spark):
    """ADVICE r20: '' must pair with 1-char strings via the indel identity
    side ONLY — the descending sequence(1, 0) used to put '' in the
    deletion table too, duplicating every ('', x) pair (and burning a
    max_neighbors cap slot)."""
    from collections import Counter

    from klogs_spark.ext.text import edit_distance_pairs

    df = spark.createDataFrame(
        [("",), ("x",), ("y",), ("ab",), ("a",)], "s string"
    )
    rows = [tuple(r) for r in edit_distance_pairs(df).collect()]
    dupes = {k: v for k, v in Counter(rows).items() if v > 1}
    assert not dupes
    assert ("", "x", 1) in rows and ("", "a", 1) in rows
    # the cap sees each neighbor once
    capped = [
        tuple(r)
        for r in edit_distance_pairs(df, max_neighbors=2).collect()
        if r.s_a == ""
    ]
    # ''s distance-1 neighbors are the 1-char strings only, lexicographic
    assert capped == [("", "a", 1), ("", "x", 1)]


def test_exact_dedup_rows_matches_join_form(corpus):
    """The one-shuffle window form must keep exactly the rows the
    groupBy + join-back form kept (min id per distinct text)."""
    from pyspark.sql import functions as F

    from klogs_spark.ext.dedup import exact_dedup, exact_dedup_rows

    surv = exact_dedup(corpus).select(
        F.col("survivor_id").alias("doc_id")
    )
    join_form = sorted(
        map(tuple, corpus.join(surv, "doc_id").collect())
    )
    window_form = sorted(map(tuple, exact_dedup_rows(corpus).collect()))
    assert join_form == window_form


def test_quality_kept_rows_matches_join_form(corpus):
    """The row-local filter form must keep exactly the rows the
    docs ⋈ quality_filter(docs).filter(keep) join kept."""
    from pyspark.sql import functions as F

    from klogs_spark.ext.text import quality_filter, quality_kept_rows

    dec = quality_filter(corpus)
    join_form = sorted(
        map(
            tuple,
            corpus.join(
                dec.filter(F.col("keep")).select(
                    F.col("id").alias("doc_id")
                ),
                "doc_id",
            ).collect(),
        )
    )
    filter_form = sorted(map(tuple, quality_kept_rows(corpus).collect()))
    assert join_form == filter_form


def test_simhash_exact_past_former_lane_cap(spark):
    """31-bit count lanes (VERDICT r21 #3): a document beyond r21's 2^20-token
    packed-lane cap must compute the EXACT simhash — no raise path, identical
    result at every doc size. A doc of n repeated tokens has the same
    majority vector as the single-token doc (c_j = n*bit_j, majority == bit),
    so the giant's signature must equal the tiny doc's, for both the
    uniform and the two-token mixtures."""
    from klogs_spark.ext.dedup import simhash

    giant_uniform = "a " * ((1 << 20) + 5)
    giant_mixed = "a b " * ((1 << 19) + 3)
    df = spark.createDataFrame(
        [(1, giant_uniform), (2, "a"), (3, giant_mixed), (4, "a b")],
        "doc_id long, text string",
    )
    sigs = {r["id"]: r["simhash"] for r in simhash(df).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[3] == sigs[4]


def test_quality_gate_forms_agree_on_edge_docs(spark):
    """The three gate forms (quality_filter's keep column, the
    single-expression filter of quality_kept_rows, with_quality_keep's
    flag) must agree row-for-row on adversarial docs: null text, empty,
    whitespace-only, below/at the length gate, repetitive, stopword-free
    (unknown_lang), and a healthy kept doc (r22 single-pass rewrite)."""
    from klogs_spark.ext.text import (
        quality_filter, quality_kept_rows, with_quality_keep,
    )

    # top token share under FILTER_MAX_TOP_TOKEN_PPM (a 28-token doc with
    # five "the" trips the repetition gate), so every gate passes
    healthy = ("the cat sat of the mat and a dog ran to our park and one "
               "bird flew from an old tree to its nest where all was well "
               "there")
    rows = [
        (1, None), (2, ""), (3, "   "), (4, "x " * 19), (5, "x " * 25),
        (6, "the " * 40), (7, "zz qq ww " * 10), (8, healthy),
        (9, healthy + " !!!"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    keep_map = {r["id"]: r["keep"] for r in quality_filter(df).collect()}
    flag_map = {
        r["doc_id"]: r["_k"]
        for r in with_quality_keep(df, "text", "_k").collect()
    }
    kept_ids = {r["doc_id"] for r in quality_kept_rows(df).collect()}
    # quality_filter drops zero-token docs before scoring; its keep map
    # must match the flag for every doc it scores, and the kept set must
    # be exactly the flagged-true set
    for i, keep in keep_map.items():
        assert flag_map[i] == keep, (i, flag_map[i], keep)
    assert kept_ids == {i for i, k in flag_map.items() if k}
    assert 8 in kept_ids
    assert not flag_map.get(1)
