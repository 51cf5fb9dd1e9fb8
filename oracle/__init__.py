"""Pure-Python single-node oracle for the quality-filter pipeline.

No Spark anywhere in this package: it re-implements the reference's
decision semantics (cascades + feature rollup) as plain Python.  The
per-image and per-caption features come from scalar twins of the
shipped batched kernels — `imagefeat` (image features + average hash,
twin of `qfilter.batch_image`) and `captionfeat` (OCR-analogue caption
features, twin of `qfilter.batch_text`) — so an edit to a shipped
kernel does not move the oracle with it.  Decoding, the text bundle
(`qfilter.codecs`, `qfilter.textops`) and the scalar pixel primitives
of `qfilter.imageops` are shared.  `imageref` holds the independent
twins of the enhance/line/orientation kernels.  Tests compare the
Spark pipeline against this oracle; the fixture generator uses it to
produce the golden `labels_ref` sidecar (FIXTURES.md §4).
"""

from .cascades import (  # noqa: F401
    categorize_base,
    categorize_easyocr,
    categorize_extended,
    is_dark_document,
    keep,
)
from .rows import assess_row, label_rows  # noqa: F401
