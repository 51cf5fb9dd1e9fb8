"""Scalar caption-engine twin of `qfilter.batch_text`.

Per-row OCR-analogue features (the contract is documented in
`qfilter.engine`): token confidences from the word 3-gram LM and the
langid character-trigram profiles, their median/mean/pct80/IQR, and the
``blocks`` geometry.  The Spark UDF computes the same values with the
batch-vectorized `qfilter.batch_text.caption_features_frame`;
`tests/test_batch_text.py` asserts exact equality between the two.
Both paths share the calibration constants and `block_geometry` from
`qfilter.engine`.
"""

from __future__ import annotations

import numpy as np

from qfilter.engine import CONF_BIAS, W_CHAR, W_WORD, block_geometry
from qfilter.textops import TextBundle, tokenize_words

__all__ = ["token_confidences", "ocr_features", "OCR_FEATURE_NAMES"]

OCR_FEATURE_NAMES = [
    "median_ocr_conf",
    "mean_ocr_conf",
    "pct80",
    "words_count",
    "conf_iqr",
    "bbox_area_text_frac",
    "line_height_med",
    "line_height_var",
    "line_spacing_med",
    "line_spacing_var",
    "text_blocks_count",
    "avg_block_width",
    "avg_block_height",
]


def token_confidences(bundle: TextBundle, caption: str) -> np.ndarray:
    """Per-token confidence in [0, 100] — monotone in both LM scores."""
    word_lps = bundle.lm.token_logprobs(caption)
    if word_lps.size == 0:
        return np.empty(0, dtype=np.float64)
    char_lps = np.array(
        [
            bundle.langid.scores(w).max() if w else -12.0
            for w in tokenize_words(caption)
        ],
        dtype=np.float64,
    )
    z = W_WORD * word_lps + W_CHAR * char_lps + CONF_BIAS
    return 100.0 / (1.0 + np.exp(-z))


def ocr_features(bundle: TextBundle, caption: str, blocks, page_w: int, page_h: int) -> dict:
    """OCR-analogue features for one row.

    ``blocks``: iterable of (top, left, width, height) tuples/sequences
    (the fixture sidecar), or None/empty.
    """
    caption = caption or ""
    confs = token_confidences(bundle, caption)
    words = tokenize_words(caption)
    n = confs.size
    if n:
        med = float(np.median(confs))
        mean = float(confs.mean())
        pct80 = float(np.count_nonzero(confs >= 80.0)) / n
        iqr = float(np.percentile(confs, 75) - np.percentile(confs, 25))
    else:
        med = mean = pct80 = iqr = 0.0

    nb, bbox_frac, lh_med, lh_var, ls_med, ls_var, avg_w, avg_h = block_geometry(
        blocks, page_w, page_h
    )

    return {
        "median_ocr_conf": med,
        "mean_ocr_conf": mean,
        "pct80": pct80,
        "words_count": len(words),
        "conf_iqr": iqr,
        "bbox_area_text_frac": bbox_frac,
        "line_height_med": lh_med,
        "line_height_var": lh_var,
        "line_spacing_med": ls_med,
        "line_spacing_var": ls_var,
        "text_blocks_count": nb,
        "avg_block_width": avg_w,
        "avg_block_height": avg_h,
    }
