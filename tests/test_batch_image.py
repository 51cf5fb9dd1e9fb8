"""Bit-identity of the shape-batched image kernels vs the scalar path.

`qfilter.batch_image.image_features_batch` (the image-UDF interior)
must produce EXACTLY the values of the scalar oracle twin
(`oracle.imagefeat.image_features` + `average_hash`) — exact float
equality: the parity gate hashes values, so one ULP of drift is a red
row.  Also proves, exhaustively over their full input domains, the
integer-form shortcuts the batch path relies on (unclipped luma
rounding; banker's-rounded /256 in the blur; integer-space
adaptive-threshold comparison), and that the image UDF body keeps
per-row error granularity with its single batched path.
"""

from __future__ import annotations

import numpy as np
import pytest

from oracle.imagefeat import average_hash, image_features
from qfilter import codecs, imageops
from qfilter.batch_image import image_features_batch


def _scalar_feats(px):
    gray = imageops.grayscale(px)
    d = image_features(px, _gray=gray)
    d["phash64"] = average_hash(px, _gray=gray)
    return d


def _fixture_frame(limit=400):
    import os

    import pyarrow.parquet as pq

    from make_fixtures import ensure_fixtures

    tdir = ensure_fixtures("smoke")
    return (
        pq.read_table(
            os.path.join(tdir, "images.parquet"),
            columns=["bytes", "fmt", "w", "h"],
        )
        .to_pandas()
        .head(limit)
    )


def _decode_fixture_images(limit=400):
    t = _fixture_frame(limit)
    pxs = []
    for b, f, w, h in zip(t["bytes"], t["fmt"], t["w"], t["h"]):
        try:
            pxs.append(codecs.decode(b, f, int(w), int(h)))
        except Exception:
            pass
    return pxs


def _assert_identical(ref: dict, got: dict, i: int):
    """Scalar dict ``ref`` == row ``i`` of the column dict ``got``."""
    assert set(got) == set(ref)
    for k, v in ref.items():
        gv = got[k][i]
        if isinstance(v, float):
            assert (v == gv) or (np.isnan(v) and np.isnan(gv)), (k, v, gv)
        else:
            assert v == gv, (k, v, gv)


def _assert_batch_matches_scalar(pxs):
    got = image_features_batch(pxs)
    for i, px in enumerate(pxs):
        _assert_identical(_scalar_feats(px), got, i)


def test_batch_matches_scalar_on_fixtures():
    pxs = _decode_fixture_images()
    assert len(pxs) > 100
    _assert_batch_matches_scalar(pxs)


def test_batch_matches_scalar_random_shapes():
    """Random sizes (including degenerate < 3 px dims) and random
    noise/structured content — every Arrow batch mix must agree."""
    rng = np.random.default_rng(7)
    pxs = []
    for _ in range(60):
        h = int(rng.integers(1, 70))
        w = int(rng.integers(1, 70))
        px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        if rng.random() < 0.5:  # paper-like: bright page + dark strokes
            px[:] = 235
            for _ in range(int(rng.integers(0, 6))):
                y = int(rng.integers(0, h))
                px[y : y + 2, :] = 40
        pxs.append(px)
    _assert_batch_matches_scalar(pxs)


def test_batch_returns_typed_columns():
    rng = np.random.default_rng(11)
    pxs = [rng.integers(0, 256, (h, 9, 3), dtype=np.uint8) for h in (5, 9, 5)]
    got = image_features_batch(pxs)
    assert got["is_table_like"].dtype == np.bool_
    assert got["phash64"].dtype == np.int64
    assert got["avg_blur"].dtype == np.float64
    assert all(len(col) == len(pxs) for col in got.values())
    empty = image_features_batch([])
    assert set(empty) == set(got) and all(len(c) == 0 for c in empty.values())


def test_luma_range_exhaustive():
    """grayscale_b skips the scalar path's clip: round(luma) must lie in
    [0, 255] for EVERY one of the 2^24 RGB triples, evaluated with the
    kernel's own accumulation order (chunked by red value)."""
    from qfilter.batch_image import grayscale_b

    gb = np.arange(1 << 16, dtype=np.uint32)
    g = (gb >> 8).astype(np.uint8)
    b = (gb & 0xFF).astype(np.uint8)
    for r in range(0, 256, 16):
        rgb = np.empty((16, 1 << 16, 3), dtype=np.uint8)
        rgb[..., 0] = np.arange(r, r + 16, dtype=np.uint8)[:, None]
        rgb[..., 1] = g
        rgb[..., 2] = b
        f = rgb[..., 0] * 0.299
        f += rgb[..., 1] * 0.587
        f += rgb[..., 2] * 0.114
        np.round(f, out=f)
        assert f.min() >= 0.0 and f.max() <= 255.0, r
        ref = imageops.grayscale(rgb)  # the clipped scalar form
        assert np.array_equal(grayscale_b(rgb[:, None]), ref[:, None]), r


def test_blur_integer_rounding_exhaustive():
    """round(o/256) with np.round (half-to-even; o/256 is exact in
    float64) == the integer banker's rounding the batch blur uses,
    for EVERY reachable o in [0, 255*256]."""
    o = np.arange(0, 255 * 256 + 1, dtype=np.int32)
    ref = np.clip(np.round(o / 256.0), 0, 255).astype(np.uint8)
    q, r = np.divmod(o, 256)
    q += (r > 128) | ((r == 128) & ((q & 1) == 1))
    assert np.array_equal(ref, q.astype(np.uint8))


@pytest.mark.parametrize("block,c", [(35, 15), (41, 15), (31, 10), (31, 11)])
def test_adaptive_threshold_integer_form_exhaustive(block, c):
    """px <= s/b^2 - c (float64, the scalar form) == px*b^2 <= s - c*b^2
    (integer, the batch form) for EVERY reachable window sum s at the
    call site's (block, c) — so the integer comparison is not an
    approximation but an identity."""
    b2 = block * block
    s = np.arange(0, 255 * b2 + 1, dtype=np.int64)
    thr_f = s / float(b2) - c
    rhs = s - c * b2
    for px in range(256):
        assert np.array_equal(px <= thr_f, px * b2 <= rhs), px


def test_cc_banded_stats_match_per_image():
    """connected_component_stats(band_h=...) over a stacked mask must
    return per-image stats identical (incl. float moments) to separate
    per-image calls."""
    rng = np.random.default_rng(3)
    h, w, n = 23, 31, 7
    masks = (rng.random((n, h, w)) < 0.35).astype(np.uint8) * 255
    tall = np.zeros((n * (h + 1), w), dtype=np.uint8)
    tall.reshape(n, h + 1, w)[:, :h, :] = masks
    st = imageops.connected_component_stats(tall, band_h=h + 1)
    assert st is not None
    band = st["band"]
    assert np.all(np.diff(band) >= 0)
    for i in range(n):
        sel = band == i
        ref = imageops.connected_component_stats(masks[i])
        if ref is None:
            assert not sel.any()
            continue
        for k in ref:
            assert np.array_equal(ref[k], st[k][sel]), (i, k)


def test_udf_body_falls_back_to_single_image_batches(monkeypatch):
    """If a kernel raises on a multi-image batch, the UDF body reruns
    each image as a batch of one: good rows still equal the oracle
    twin exactly, and decode-error rows keep their error and phash 0."""
    import pandas as pd

    from qfilter import features

    t = _fixture_frame(120)
    data = list(t["bytes"])
    for i in range(0, len(data), 7):  # interleave undecodable rows
        data[i] = b"\x00\x01broken"
    real = features.image_features_batch
    sizes = []

    def one_at_a_time(pxs):
        sizes.append(len(pxs))
        if len(pxs) > 1:
            raise RuntimeError("kernel failure")
        return real(pxs)

    monkeypatch.setattr(features, "image_features_batch", one_at_a_time)
    out = features.image_features_frame(
        pd.Series(data), t["fmt"], t["w"], t["h"]
    )
    assert list(out.columns) == [f.name for f in features.IMAGE_FEATURES_SCHEMA]
    assert len(out) == len(t) and max(sizes) > 1 and 1 in sizes
    cols = {k: out[k].to_numpy() for k in out.columns if k != "error"}
    n_err = 0
    for i in range(len(t)):
        try:
            px = codecs.decode(data[i], t["fmt"][i], int(t["w"][i]), int(t["h"][i]))
        except Exception:
            n_err += 1
            assert isinstance(out["error"][i], str) and out["error"][i]
            assert out["phash64"][i] == 0
            continue
        assert out["error"][i] is None
        _assert_identical(_scalar_feats(px), cols, i)
    assert n_err >= len(t) // 7


def test_error_rows_interleaved_with_batch(spark, smoke_dir):
    """The UDF splits decode errors out, batches the rest, and must
    reassemble rows in order with the schema's column order."""
    import os

    from pyspark.sql import functions as F

    from qfilter.features import with_image_features

    img = spark.read.parquet(os.path.join(smoke_dir, "images.parquet"))
    # corrupt ~1/5 of the byte streams
    broken = img.withColumn(
        "bytes",
        F.when(
            F.crc32(F.col("image_id")) % 5 == 0,
            F.lit(b"\x00\x01broken"),
        ).otherwise(F.col("bytes")),
    )
    out = with_image_features(broken).select("image_id", "error", "phash64")
    rows = out.collect()
    n_err = sum(1 for r in rows if r.error is not None)
    assert n_err > 0
    for r in rows:
        if r.error is not None:
            assert r.phash64 == 0
        else:
            assert isinstance(r.phash64, int)
