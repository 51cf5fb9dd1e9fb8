"""Deterministic caption-path OCR-analogue feature engine.

The reference's cascade consumes OCR-engine outputs (conf median/mean,
pct>=80, IQR, word count, bbox/line geometry) produced by one of three
interchangeable engines sharing a single contract:

* PaddleOCR   `classificator_paddleocr.py:190-241`
* EasyOCR     `classificator_easyocr.py:208-254`
* pytesseract `classificator.py:176-196` (commented out)

No OCR model can run in this sandbox, and the north rule names
fastText/KenLM/heuristics — not OCR — so this module plugs a fourth
engine into the same contract (SURVEY.md §7.4):

* ``words``       = caption whitespace-token count (non-blank filter as
  `classificator_extended_paddleocr.py:249-254`).
* ``conf`` family = monotone map of per-token n-gram-LM log-probs into
  [0, 100]:  ``conf = 100 * sigmoid((logprob - BIAS) / SCALE)``.
  In-corpus fluent tokens land >= ~90, OOV gibberish lands <= ~10, so
  the cascade's conf thresholds (25/50/55/65/70/90) are all reachable
  by mixing fluent and gibberish tokens.
* bbox/line geometry = taken from an optional ``blocks`` sidecar column
  (array of (top, left, width, height) structs) that the fixture
  generator steers across the thresholds; absent blocks => zeros, same
  as the reference's empty-OCR result path
  (`classificator_extended_paddleocr.py:256-263`).

Token-level statistics mirror `classificator_extended_paddleocr.py:286-316`:
median/mean conf, pct80 = frac(conf >= 80), IQR = p75 - p25, line
heights/spacings variance (spacing from ``top``-sorted blocks, positive
only — the reference's W1 window op at `:300-308`).

This module holds what both implementations of the contract share:
the confidence calibration constants and `block_geometry`.  The
Spark UDF computes the features batch-vectorized
(`qfilter.batch_text`); the single-node oracle computes them per row
(`oracle/captionfeat.py`), and `tests/test_batch_text.py` asserts
exact equality between the two.
"""

from __future__ import annotations

import numpy as np

__all__ = ["CONF_BIAS", "W_CHAR", "W_WORD", "block_geometry"]

# conf = 100 * sigmoid(W_WORD*word_lp + W_CHAR*char_lp + CONF_BIAS):
# word_lp = interpolated 3-gram word-LM logprob, char_lp = best-language
# mean character-trigram logprob of the token (the langid profiles).
# Calibrated anchors on the default bundle: in-corpus phrase ~95,
# in-vocab word salad ~80, lightly-mangled word ~64, heavily-mangled
# ~32, gibberish ~10 — so every cascade conf threshold
# (25/50/55/65/70/90) and pct80 band is reachable by token mixing.
W_WORD = 0.08
W_CHAR = 1.2
CONF_BIAS = 11.38


def block_geometry(blocks, page_w: int, page_h: int) -> tuple:
    """Bbox/line geometry stats for one row's ``blocks`` sidecar.

    Returns (n_blocks, bbox_area_text_frac, line_height_med,
    line_height_var, line_spacing_med, line_spacing_var,
    avg_block_width, avg_block_height).  Shared by the per-row oracle
    path (`oracle.captionfeat.ocr_features`) and the batched Spark UDF
    path (`qfilter.batch_text`).
    """
    blocks = list(blocks) if blocks is not None else []
    nb = len(blocks)
    if nb:
        arr = np.asarray(
            [[float(b[0]), float(b[1]), float(b[2]), float(b[3])] for b in blocks],
            dtype=np.float64,
        )  # columns: top, left, width, height
        tops, widths, heights = arr[:, 0], arr[:, 2], arr[:, 3]
        page_area = float(page_w) * float(page_h)
        bbox_frac = float((widths * heights).sum() / page_area) if page_area else 0.0
        lh_med = float(np.median(heights))
        lh_var = float(np.var(heights))
        order = np.argsort(tops, kind="stable")
        st, sh = tops[order], heights[order]
        spacings = st[1:] - (st[:-1] + sh[:-1])
        spacings = spacings[spacings > 0]
        ls_med = float(np.median(spacings)) if spacings.size else 0.0
        ls_var = float(np.var(spacings)) if spacings.size else 0.0
        avg_w = float(widths.mean())
        avg_h = float(heights.mean())
    else:
        bbox_frac = lh_med = lh_var = ls_med = ls_var = avg_w = avg_h = 0.0
    return nb, bbox_frac, lh_med, lh_var, ls_med, ls_var, avg_w, avg_h
