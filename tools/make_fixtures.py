"""Deterministic synthetic fixture generator (FIXTURES.md).

Builds the `images` input table (schema from BASELINE.json input_hint
plus the test-only ``blocks`` geometry sidecar) together with the
oracle-produced golden ``labels_ref`` sidecar and pre-encode
``pool`` pixels (for PSNR checks).

Strategy: a small *pool* of oracle-validated rows — for every cascade
reason (14 extended rules + error channel + reachable dark rules) a
set of distinct variants is drawn with seeded rejection sampling until
the pure-Python oracle assigns exactly the target reason.  Tiers then
assemble rows by cycling the pool (labels copied from the validated
pool entry), planting the pHash hot bucket (25 % of rows) and medium
buckets for dedup/skew tests.  Everything derives from
``numpy.random.Generator(PCG64(seed))`` — no wall clock, no hash
randomization; same seed => byte-identical parquet.

Run:  python tools/make_fixtures.py [--tier smoke|correctness|bench]
Tiers (FIXTURES.md §5): smoke=600, correctness=20_000, bench=120_000.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from oracle import assess_row  # noqa: E402
from oracle.imagefeat import average_hash  # noqa: E402
from qfilter import codecs  # noqa: E402
from qfilter.textops import build_corpus, default_bundle  # noqa: E402
import qfilter.textops as textops  # noqa: E402

SEED = 42
TIERS = {"smoke": 600, "correctness": 20_000, "bench": 120_000}
FMTS = ["raw", "bmp", "png", "qjpg"]
DEFAULT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "testdata_q")

_CORPUS = build_corpus()
_LANGS = ["en", "ru", "de", "fr", "es"]
_VOCAB = {lang: sorted(set(textops._WORDS[lang].split())) for lang in _LANGS}
# Zipf-common words = first words in corpus order (see build_corpus)
_FREQ_VOCAB = {lang: textops._WORDS[lang].split()[:10] for lang in _LANGS}
_GIB_CHARS = np.array(list("bcdfghjklmnpqrstvwxz"))


# ------------------------------------------------------------- captions

def cap_phrase(rng: np.random.Generator, n: int, lang: str = "en") -> list[str]:
    """Contiguous subsequence of a training sentence (seen trigrams)."""
    sents = _CORPUS[lang]
    for _ in range(20):
        s = sents[int(rng.integers(0, len(sents)))].split()
        if len(s) >= n:
            start = int(rng.integers(0, len(s) - n + 1))
            return s[start : start + n]
    return (s * ((n // len(s)) + 1))[:n]


def cap_salad(rng: np.random.Generator, n: int, lang: str = "en") -> list[str]:
    v = _VOCAB[lang]
    return [v[int(rng.integers(0, len(v)))] for _ in range(n)]


def cap_xlang(rng: np.random.Generator, n: int) -> list[str]:
    """Cross-language alternation: in-vocab words, unseen bigrams."""
    out = []
    langs = list(_LANGS)
    for i in range(n):
        v = _VOCAB[langs[(i + int(rng.integers(0, 2))) % len(langs)]]
        out.append(v[int(rng.integers(0, len(v)))])
    return out


_ALL_WORDS = sorted({w for lang in _LANGS for w in _VOCAB[lang] if len(w) >= 6})


def cap_mangle(rng: np.random.Generator, n: int, heavy: bool = False) -> list[str]:
    """Real vocab words with 1 (light, conf ~64) or 3 (heavy, ~32)
    interior characters replaced — mid-band tokens for the conf map."""
    out = []
    subs = "zqx"
    for _ in range(n):
        w = list(_ALL_WORDS[int(rng.integers(0, len(_ALL_WORDS)))])
        k = 3 if heavy else 1
        positions = rng.choice(np.arange(1, len(w) - 1), size=min(k, len(w) - 2),
                               replace=False)
        for p in positions:
            w[int(p)] = subs[int(rng.integers(0, len(subs)))]
        out.append("".join(w))
    return out


def cap_gib(rng: np.random.Generator, n: int) -> list[str]:
    return [
        "".join(rng.choice(_GIB_CHARS, size=int(rng.integers(4, 9))))
        for _ in range(n)
    ]


def mix_caption(rng: np.random.Generator, n: int, frac_phrase: float = 0.0,
                frac_light: float = 0.0, frac_heavy: float = 0.0,
                frac_gib: float = 0.0, lang: str = "en") -> str:
    """Mixture caption over the four conf tiers (phrase ~95 / light
    mangle ~64 / heavy mangle ~32 / gibberish ~10); remainder = salad
    (~80).  The phrase part stays a CONTIGUOUS block (seen trigrams =>
    high LM conf); filler tokens are shuffled around it."""
    n_p = int(round(n * frac_phrase))
    n_l = int(round(n * frac_light))
    n_h = int(round(n * frac_heavy))
    n_g = int(round(n * frac_gib))
    n_s = max(0, n - n_p - n_l - n_h - n_g)
    filler = (
        cap_mangle(rng, n_l) + cap_mangle(rng, n_h, heavy=True)
        + cap_gib(rng, n_g) + (cap_salad(rng, n_s, lang) if n_s else [])
    )
    filler = [filler[i] for i in rng.permutation(len(filler))]
    if n_p:
        phrase = cap_phrase(rng, min(n_p, 12), lang)
        pos = int(rng.integers(0, len(filler) + 1))
        toks = filler[:pos] + phrase + filler[pos:]
    else:
        toks = filler
    return " ".join(toks)


_PII_PLANTS = [
    "contact {u}@example.com now",
    "call +1 555 123 4567 today",
    "card 4111 1111 1111 1111 on file",
    "server at 192.168.1.77 internal",
    "ssn 123-45-6789 recorded",
]
_TOX_PLANTS = ["badword1", "slurword", "toxicterm"]


def plant_pii(rng: np.random.Generator, caption: str) -> str:
    r = rng.random()
    if r < 0.07:
        plant = _PII_PLANTS[int(rng.integers(0, len(_PII_PLANTS)))].format(
            u=f"user{int(rng.integers(0, 999))}"
        )
        return f"{caption} {plant}"
    if r < 0.10:
        tox = _TOX_PLANTS[int(rng.integers(0, len(_TOX_PLANTS)))]
        return f"{caption} {tox}"
    return caption


# --------------------------------------------------------------- pixels

def page_white(rng, w, h, bg=250, noise=3):
    px = np.full((h, w), bg, dtype=np.int16)
    px += rng.integers(-noise, noise + 1, size=(h, w), dtype=np.int16)
    return np.clip(px, 0, 255).astype(np.uint8)


def draw_word_bars(rng, gray, ink=15, line_period=14, line_h=5, word_w=18,
                   gap=8, margin=0.08):
    """Text-like rows of short dark segments (broken so 40-px line
    kernels don't see them as ruled lines)."""
    h, w = gray.shape
    m = int(min(h, w) * margin)
    for y0 in range(m, h - m - line_h, line_period):
        x = m + int(rng.integers(0, gap))
        while x < w - m - 4:
            seg = int(rng.integers(word_w // 2, word_w))
            gray[y0 : y0 + line_h, x : min(x + seg, w - m)] = ink
            x += seg + gap + int(rng.integers(0, gap))
    return gray


def add_checker(rng, gray, frac=0.04, cell=2):
    """Small high-frequency checkerboard patch (blur-score booster)."""
    h, w = gray.shape
    side = max(4, int((frac * h * w) ** 0.5))
    y0 = int(rng.integers(0, max(1, h - side)))
    x0 = int(rng.integers(0, max(1, w - side)))
    yy, xx = np.mgrid[0:side, 0:side]
    patch = (((yy // cell) + (xx // cell)) % 2) * 255
    gray[y0 : y0 + side, x0 : x0 + side] = patch.astype(np.uint8)
    return gray


def box_blur(gray, k):
    from qfilter.imageops import box_filter

    out = gray
    for _ in range(k):
        out = box_filter(out, 3)
    return out


def page_text(rng, w, h, blur_steps=0, checker=True):
    g = page_white(rng, w, h)
    g = draw_word_bars(rng, g)
    if checker:
        g = add_checker(rng, g)
    if blur_steps:
        g = box_blur(g, blur_steps)
    return g


def page_roi_small(rng, w, h, frac):
    """Dark background with one bright rectangle of ~frac area."""
    g = np.full((h, w), 12, dtype=np.uint8)
    side_h = max(4, int(h * np.sqrt(frac)))
    side_w = max(4, int(w * np.sqrt(frac)))
    y0 = int(rng.integers(0, h - side_h))
    x0 = int(rng.integers(0, w - side_w))
    g[y0 : y0 + side_h, x0 : x0 + side_w] = 245
    return g


def page_skewed(rng, w, h, theta_deg):
    """Parallel dark stripes at theta (off-axis text lines)."""
    g = page_white(rng, w, h)
    th = np.deg2rad(theta_deg)
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    proj = yy * np.cos(th) - xx * np.sin(th)
    period = 16.0
    stripe = (proj % period) < 4.0
    m = int(min(h, w) * 0.10)
    mask = np.zeros((h, w), dtype=bool)
    mask[m : h - m, m : w - m] = True
    g[stripe & mask] = 20
    return g


def page_table(rng, w, h, spacing=18, thick=2, checker=True, blur_steps=0):
    g = page_white(rng, w, h)
    m = int(min(h, w) * 0.06)
    for y in range(m, h - m, spacing):
        g[y : y + thick, m : w - m] = 25
    for x in range(m, w - m, spacing):
        g[m : h - m, x : x + thick] = 25
    if checker:
        g = add_checker(rng, g, frac=0.03)
    if blur_steps:
        g = box_blur(g, blur_steps)
    return g


def page_miniature(rng, w, h, blob_frac=0.04, blur_steps=2):
    g = page_white(rng, w, h)
    side = max(6, int((blob_frac * h * w) ** 0.5))
    y0 = int(rng.integers(h // 4, max(h // 4 + 1, h - side - h // 4)))
    x0 = int(rng.integers(w // 4, max(w // 4 + 1, w - side - w // 4)))
    sub = g[y0 : y0 + side, x0 : x0 + side]
    yy, xx = np.mgrid[0 : sub.shape[0], 0 : sub.shape[1]]
    sub[((yy // 3) + (xx // 3)) % 2 == 0] = 40
    if blur_steps:
        g = box_blur(g, blur_steps)
    return g


def page_uniform(rng, w, h, value):
    return np.full((h, w), value, dtype=np.uint8)


def scale_brightness(gray, target_mean):
    cur = gray.mean()
    if cur <= 0:
        return gray
    out = gray.astype(np.float64) * (target_mean / cur)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def to_rgb(gray):
    return np.stack([gray] * 3, axis=-1)


# ---------------------------------------------------------------- blocks

def make_blocks(rng, w, h, n=6, bbox_frac=0.2, lh_mix=None):
    """n text blocks; total area = bbox_frac * page; heights uniform or
    a two-level mix (for line_height_var > 100)."""
    if lh_mix is None:
        heights = np.full(n, max(6.0, h * 0.06))
    else:
        lo, hi = lh_mix
        heights = np.array([lo if i % 2 == 0 else hi for i in range(n)], float)
    total_area = bbox_frac * w * h
    widths = np.minimum(total_area / heights.sum(), 0.92 * w)
    widths = np.full(n, float(widths))
    tops, y = [], h * 0.05
    step = (h * 0.9) / n
    for i in range(n):
        tops.append(y)
        y += step
    return [
        (float(tops[i]), float(w * 0.04), float(widths[i]), float(heights[i]))
        for i in range(n)
    ]


# ----------------------------------------------------------- pool build

SIZES = [(96, 128), (128, 96), (128, 128), (160, 112), (192, 128)]


def _std_blocks(rng, w, h, bbox=0.2, irregular=False):
    return make_blocks(rng, w, h, n=6, bbox_frac=bbox,
                       lh_mix=(6.0, 40.0) if irregular else None)


def _target_specs():
    """target name -> (draw_fn(rng, variant) -> row_params, predicate(labels))."""

    def mk(pixels_fn, caption_fn, blocks_fn):
        def draw(rng):
            w, h = SIZES[int(rng.integers(0, len(SIZES)))]
            gray = pixels_fn(rng, w, h)
            caption = caption_fn(rng)
            blocks = blocks_fn(rng, w, h)
            return to_rgb(gray), caption, blocks
        return draw

    phrase20 = lambda r: plant_pii(r, " ".join(cap_phrase(
        r, 10, _LANGS[int(r.integers(0, len(_LANGS)))])))
    gib20 = lambda r: mix_caption(r, 20, frac_gib=1.0)
    light20 = lambda r: plant_pii(r, mix_caption(r, 20, frac_light=1.0))
    salad20 = lambda r: plant_pii(r, mix_caption(r, 20))
    std_blk = lambda r, w, h: _std_blocks(r, w, h, bbox=0.2)
    big_blk = lambda r, w, h: _std_blocks(r, w, h, bbox=0.3)
    tiny_blk = lambda r, w, h: _std_blocks(r, w, h, bbox=0.015)
    irr_blk = lambda r, w, h: _std_blocks(r, w, h, bbox=0.2, irregular=True)

    specs = {
        "roi<min": (
            mk(lambda r, w, h: page_roi_small(r, w, h, 0.10 + 0.25 * r.random()),
               phrase20, std_blk),
            lambda L: L["reason"] == "roi<min",
        ),
        "skew_bad": (
            mk(lambda r, w, h: page_skewed(r, w, h, 14 + 10 * r.random()),
               phrase20, std_blk),
            lambda L: L["reason"] == "skew_bad",
        ),
        "ocr_dead": (
            mk(lambda r, w, h: page_text(r, w, h), gib20, std_blk),
            lambda L: L["reason"] == "ocr_dead",
        ),
        "blur_dead": (
            mk(lambda r, w, h: page_text(r, w, h, blur_steps=6, checker=False),
               lambda r: mix_caption(r, 20, frac_phrase=0.15, frac_gib=0.85),
               std_blk),
            lambda L: L["reason"] == "blur_dead",
        ),
        "no_text_content": (
            mk(lambda r, w, h: page_text(r, w, h),
               lambda r: mix_caption(r, 20, frac_phrase=0.13, frac_heavy=0.87),
               tiny_blk),
            lambda L: L["reason"] == "no_text_content",
        ),
        "unstable_ocr": (
            mk(lambda r, w, h: page_text(r, w, h),
               lambda r: mix_caption(r, 20, frac_phrase=0.25, frac_light=0.35,
                                     frac_gib=0.40), std_blk),
            lambda L: L["reason"] == "unstable_ocr",
        ),
        "irregular_lines": (
            mk(lambda r, w, h: page_text(r, w, h),
               lambda r: mix_caption(r, 20, frac_phrase=0.35, frac_light=0.65),
               irr_blk),
            lambda L: L["reason"] == "irregular_lines",
        ),
        "miniature_poor": (
            mk(lambda r, w, h: page_miniature(r, w, h),
               lambda r: mix_caption(r, 20, frac_phrase=0.22, frac_heavy=0.78),
               std_blk),
            lambda L: L["reason"] == "miniature_poor",
        ),
        "table_strong": (
            mk(lambda r, w, h: page_table(r, w, h), phrase20, std_blk),
            lambda L: L["reason"] == "table_strong",
        ),
        "table_ok": (
            mk(lambda r, w, h: page_table(r, w, h),
               lambda r: mix_caption(r, 20, frac_light=0.3), std_blk),
            lambda L: L["reason"] == "table_ok",
        ),
        "table_weak": (
            mk(lambda r, w, h: page_table(r, w, h), light20, std_blk),
            lambda L: L["reason"] == "table_weak",
        ),
        "text_strong": (
            mk(lambda r, w, h: page_text(r, w, h), phrase20, big_blk),
            lambda L: L["reason"] == "text_strong",
        ),
        "text_ok": (
            mk(lambda r, w, h: page_text(r, w, h), salad20,
               lambda r, w, h: _std_blocks(r, w, h, bbox=0.08)),
            lambda L: L["reason"] == "text_ok",
        ),
        "text_weak": (
            mk(lambda r, w, h: page_text(r, w, h), light20, std_blk),
            lambda L: L["reason"] == "text_weak",
        ),
        "dark_very_low": (
            mk(lambda r, w, h: scale_brightness(page_text(r, w, h), 60 + 30 * r.random()),
               phrase20, std_blk),
            lambda L: L["dark_reason"].startswith("very_low_brightness"),
        ),
        "dark_medium_low": (
            mk(lambda r, w, h: scale_brightness(page_text(r, w, h), 130 + 60 * r.random()),
               phrase20, std_blk),
            lambda L: L["dark_reason"].startswith("medium_low_brightness"),
        ),
        "dark_low_contrast": (
            mk(lambda r, w, h: page_uniform(r, w, h, int(228 + 20 * r.random())),
               phrase20, std_blk),
            lambda L: L["dark_reason"].startswith("extremely_low_contrast"),
        ),
    }
    return specs


def build_pool(variants_per_target=8, seed=SEED, max_tries=400):
    """Oracle-validated pool rows; raises if a target can't be covered."""
    bundle = default_bundle()
    specs = _target_specs()
    pool = []
    for t_idx, (target, (draw, pred)) in enumerate(sorted(specs.items())):
        got = 0
        tries = 0
        vseed = 0
        while got < variants_per_target:
            tries += 1
            if tries > max_tries * variants_per_target:
                raise RuntimeError(f"fixture target {target!r}: coverage failed "
                                   f"after {tries} tries ({got} found)")
            rng = np.random.default_rng(
                np.random.PCG64((seed, 1000 + t_idx, vseed))
            )
            vseed += 1
            px, caption, blocks = draw(rng)
            fmt = FMTS[got % len(FMTS)]
            data = codecs.encode(px, fmt)
            h, w = px.shape[:2]
            decoded = codecs.decode(data, fmt, w, h)
            row = {
                "image_id": "pool", "bytes": data, "w": w, "h": h, "fmt": fmt,
                "caption": caption, "blocks": blocks,
            }
            labels = assess_row(row, bundle)
            if not pred(labels):
                continue
            pool.append({
                "target": target, "bytes": data, "w": w, "h": h, "fmt": fmt,
                "caption": caption, "blocks": blocks,
                "phash": average_hash(decoded),
                "pixels_pre": px.tobytes(),
                "labels": labels,
            })
            got += 1
    # error-channel rows: corrupt bytes per fmt
    for i, fmt in enumerate(FMTS * 2):
        rng = np.random.default_rng(np.random.PCG64((seed, 999, i)))
        w, h = SIZES[i % len(SIZES)]
        bad = bytes(rng.integers(0, 256, size=64, dtype=np.uint8))
        row = {"image_id": "pool", "bytes": bad, "w": w, "h": h, "fmt": fmt,
               "caption": mix_caption(rng, 10, 1.0, 0, 0), "blocks": []}
        labels = assess_row(row, default_bundle())
        assert labels["error"] is not None and labels["category"] == "trash"
        pool.append({
            "target": "decode_error", "bytes": bad, "w": w, "h": h, "fmt": fmt,
            "caption": row["caption"], "blocks": [], "phash": 0,
            "pixels_pre": b"", "labels": labels,
        })
    # the hot-dup row: one fixed mid-gray image (identical pixels => one phash)
    rng = np.random.default_rng(np.random.PCG64((seed, 777)))
    px = to_rgb(page_uniform(rng, 128, 128, 128))
    data = codecs.encode(px, "png")
    row = {"image_id": "pool", "bytes": data, "w": 128, "h": 128, "fmt": "png",
           "caption": mix_caption(rng, 12, 1.0, 0, 0), "blocks": []}
    labels = assess_row(row, default_bundle())
    pool.append({
        "target": "hot_dup", "bytes": data, "w": 128, "h": 128, "fmt": "png",
        "caption": row["caption"], "blocks": [], "phash": average_hash(px),
        "pixels_pre": px.tobytes(), "labels": labels,
    })
    return pool


# ------------------------------------------------------------ tier build

_BLOCKS_TYPE = pa.list_(pa.struct([
    ("top", pa.float64()), ("left", pa.float64()),
    ("width", pa.float64()), ("height", pa.float64()),
]))

IMAGES_SCHEMA = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()),
    ("w", pa.int32()), ("h", pa.int32()), ("fmt", pa.string()),
    ("caption", pa.string()), ("phash", pa.int64()),
    ("blocks", _BLOCKS_TYPE),
])

_LABEL_FLOATS = [
    "roi_frac", "avg_blur", "text_density", "avg_skew_deg", "core_frac",
    "mean_brightness", "median_brightness", "contrast", "dark_pixels_percent",
    "very_dark_pixels_percent", "median_ocr_conf", "mean_ocr_conf", "pct80",
    "conf_iqr", "bbox_area_text_frac", "line_height_med", "line_height_var",
    "line_spacing_med", "line_spacing_var", "avg_block_width",
    "avg_block_height", "lang_conf",
]


def assemble_tier(pool, n_rows, seed=SEED):
    """Cycle the pool into n_rows rows: 25% hot bucket, 5% medium
    buckets (~100 rows each at scale), rest round-robin over targets."""
    hot = [p for p in pool if p["target"] == "hot_dup"][0]
    regular = [p for p in pool if p["target"] != "hot_dup"]
    rng = np.random.default_rng(np.random.PCG64((seed, 31337, n_rows)))
    n_hot = int(n_rows * 0.25)
    n_med_buckets = max(1, int(n_rows * 0.05) // 100)
    med_rows = min(int(n_rows * 0.05), n_med_buckets * 100)
    med_sources = [regular[int(rng.integers(0, len(regular)))]
                   for _ in range(n_med_buckets)]
    rows = []
    for i in range(n_rows):
        if i < n_hot:
            src = hot
        elif i < n_hot + med_rows:
            src = med_sources[(i - n_hot) // 100]
        else:
            src = regular[(i - n_hot - med_rows) % len(regular)]
        rows.append(src)
    # deterministic shuffle of row order
    order = rng.permutation(n_rows)
    return [rows[i] for i in order]


def write_tier(pool, tier, out_dir):
    n_rows = TIERS[tier]
    rows = assemble_tier(pool, n_rows)
    ids = [f"img{i:08d}" for i in range(n_rows)]
    img_tbl = pa.table({
        "image_id": pa.array(ids, pa.string()),
        "bytes": pa.array([r["bytes"] for r in rows], pa.binary()),
        "w": pa.array([r["w"] for r in rows], pa.int32()),
        "h": pa.array([r["h"] for r in rows], pa.int32()),
        "fmt": pa.array([r["fmt"] for r in rows], pa.string()),
        "caption": pa.array([r["caption"] for r in rows], pa.string()),
        "phash": pa.array([r["phash"] for r in rows], pa.int64()),
        "blocks": pa.array(
            [[{"top": b[0], "left": b[1], "width": b[2], "height": b[3]}
              for b in r["blocks"]] for r in rows], _BLOCKS_TYPE),
    }, schema=IMAGES_SCHEMA)
    os.makedirs(os.path.join(out_dir, tier), exist_ok=True)
    pq.write_table(img_tbl, os.path.join(out_dir, tier, "images.parquet"))

    lab_cols: dict[str, list] = {
        "image_id": ids,
        "category": [r["labels"]["category"] for r in rows],
        "reason": [r["labels"]["reason"] for r in rows],
        "keep": [r["labels"]["keep"] for r in rows],
        "is_dark": [r["labels"]["is_dark"] for r in rows],
        "dark_reason": [r["labels"]["dark_reason"] for r in rows],
        "lang": [r["labels"]["lang"] for r in rows],
        "caption_scrubbed": [r["labels"]["caption_scrubbed"] for r in rows],
        "pii_hits": [r["labels"]["pii_hits"] for r in rows],
        "tox_hits": [r["labels"]["tox_hits"] for r in rows],
        "error": [r["labels"]["error"] for r in rows],
        "perplexity": [r["labels"]["perplexity"] for r in rows],
        "is_table_like": [bool(r["labels"]["is_table_like"]) for r in rows],
        "words_count": [int(r["labels"]["words_count"]) for r in rows],
        "text_blocks_count": [int(r["labels"]["text_blocks_count"]) for r in rows],
        "target": [r["target"] for r in rows],
    }
    for cname in _LABEL_FLOATS:
        lab_cols[cname] = [float(r["labels"][cname]) for r in rows]
    pq.write_table(pa.table(lab_cols), os.path.join(out_dir, tier, "labels_ref.parquet"))

    pool_tbl = pa.table({
        "target": [p["target"] for p in pool],
        "fmt": [p["fmt"] for p in pool],
        "w": pa.array([p["w"] for p in pool], pa.int32()),
        "h": pa.array([p["h"] for p in pool], pa.int32()),
        "bytes": pa.array([p["bytes"] for p in pool], pa.binary()),
        "pixels_pre": pa.array([p["pixels_pre"] for p in pool], pa.binary()),
    })
    pq.write_table(pool_tbl, os.path.join(out_dir, tier, "pool.parquet"))

    counts: dict[str, int] = {}
    for r in rows:
        counts[r["labels"]["reason"] if r["target"] != "decode_error" else "decode_error"] = (
            counts.get(r["labels"]["reason"] if r["target"] != "decode_error" else "decode_error", 0) + 1
        )
    manifest = {"tier": tier, "rows": n_rows, "seed": SEED, "reason_counts": counts}
    with open(os.path.join(out_dir, tier, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def synth_audio_rows() -> list[tuple]:
    """Deterministic synthetic clips (sine + square), shared by the
    Spark query (`__spark_entry__._mm_audio`) and its single-node
    oracle sidecar so both see identical bytes.

    Clips cycle through the three formats (the shared encoders define
    the fixture bytes; Spark and the oracle each DECODE with their own
    independent implementation): i%3==0 square waves stay headerless
    PCM16, i%3==1 sines are G.711 mu-law, i%3==2 sines are IMA-ADPCM —
    so the query exercises the full mixed-format path the `fmt` column
    exists for."""
    from qfilter.multimodal import adpcm_encode, ulaw_encode

    rows = []
    for i in range(64):
        sr = 8000
        t = np.arange(sr // 4, dtype=np.float64) / sr
        freq = 110.0 * (1 + i % 8)
        wave = np.sin(2 * np.pi * freq * t) * (0.1 + 0.05 * (i % 5))
        if i % 3 == 0:
            wave = np.sign(wave) * np.abs(wave).max()
        pcm16 = (wave * 32767).astype("<i2")
        if i % 3 == 1:
            data, fmt = ulaw_encode(pcm16).tobytes(), "ulaw"
        elif i % 3 == 2:
            data, fmt = adpcm_encode(pcm16), "adpcm_ima"
        else:
            data, fmt = pcm16.tobytes(), "pcm16"
        rows.append((f"aud{i:04d}", data, sr, 1, fmt))
    return rows


def synth_video_rows() -> list[tuple]:
    """Deterministic raw-RGB-frame 'videos' (fake container), shared by
    the Spark query and its oracle sidecar."""
    rows = []
    for i in range(16):
        w, h, n = 32, 24, 20
        rng = np.random.default_rng(np.random.PCG64((123, i)))
        frames = rng.integers(0, 256, size=(n, h, w, 3), dtype=np.uint8)
        rows.append((f"vid{i:04d}", frames.tobytes(), n, w, h))
    return rows


_POOL_CACHE = None


def ensure_fixtures(tier: str, out_dir: str = DEFAULT_DIR) -> str:
    """Generate tier if absent; returns the tier directory."""
    global _POOL_CACHE
    tdir = os.path.join(out_dir, tier)
    if os.path.exists(os.path.join(tdir, "MANIFEST.json")):
        return tdir
    if _POOL_CACHE is None:
        _POOL_CACHE = build_pool()
    write_tier(_POOL_CACHE, tier, out_dir)
    return tdir


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--tier", choices=list(TIERS) + ["all"], default="smoke")
    ap.add_argument("--out", default=DEFAULT_DIR)
    args = ap.parse_args()
    tiers = list(TIERS) if args.tier == "all" else [args.tier]
    pool = build_pool()
    for tier in tiers:
        m = write_tier(pool, tier, args.out)
        print(json.dumps(m, sort_keys=True))


if __name__ == "__main__":
    main()
