"""Seeded input generators and oracle answers for the benchmark workloads.

Everything derives from ``numpy.random.PCG64((seed, workload_tag, row))``,
so a seed always yields byte-identical inputs.  Rows reuse the pixel and
caption recipes of ``tools/make_fixtures.py`` and the encoders of
``qfilter.codecs``; every image row is labelled once by the single-node
oracle (``oracle.assess_row``) in a pool of worker processes.  Corpus
answers come from DuckDB (one thread) and the repository's pure-Python
MinHash sidecar builder.  Results are cached per (workload, seed).
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

IMAGE_SCHEMA = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()),
    ("w", pa.int32()), ("h", pa.int32()), ("fmt", pa.string()),
    ("caption", pa.string()), ("phash", pa.int64()),
])
LABEL_KEYS = ["image_id", "category", "reason", "keep", "caption_scrubbed",
              "pii_hits", "tox_hits", "error"]

# FIXTURES.md format mix: raw 30 %, bmp 20 %, png 35 %, qjpg 15 %
FMT_CYCLE = ["raw"] * 6 + ["bmp"] * 4 + ["png"] * 7 + ["qjpg"] * 3
ERROR_EVERY = 50  # one planted decode-error row in fifty

# Image sets of the filter_stream workload: ``bulk`` goes through
# QualityFilterPipeline (recipe shapes, 96..192 px), ``stream`` lands as
# many small files for stream_quality_filter (tiny crops, long captions).
IMAGE_SETS = {
    "bulk": dict(tag=11, rows=384, prefix="img", crop=None, caption="recipe"),
    "stream": dict(tag=13, rows=288, prefix="str", crop=[(24, 32), (32, 32), (32, 24), (16, 48)],
                   caption="long"),
}
STREAM_ROWS_PER_FILE = 6
CORPUS_DOCS = 300
HELD_OUT_SEED = 9001  # never used while tuning; reserved for claim checks


# ----------------------------------------------------------- image rows

def _long_caption(mf, rng) -> str:
    """Long captions: fluent/mixed body, verbatim boilerplate (10 %),
    a gibberish long tail (20 %); then make_fixtures' 10 % PII/tox plant."""
    r = rng.random()
    if r < 0.10:
        boiler = np.random.default_rng(np.random.PCG64((5, int(rng.integers(0, 3)))))
        cap = mf.mix_caption(boiler, 120, frac_phrase=0.3, frac_light=0.2)
    elif r < 0.30:
        cap = mf.mix_caption(rng, int(rng.integers(60, 200)), frac_phrase=0.1, frac_gib=0.7)
    else:
        cap = mf.mix_caption(rng, int(rng.integers(60, 200)), frac_phrase=0.3,
                             frac_light=0.2, frac_gib=0.05,
                             lang=mf._LANGS[int(rng.integers(0, len(mf._LANGS)))])
    return mf.plant_pii(rng, cap)


def _image_rows(args) -> list[tuple[dict, dict]]:
    """Worker: generate rows [lo, hi) of one image set and label each."""
    part, seed, lo, hi = args
    import make_fixtures as mf
    from oracle import assess_row
    from qfilter import codecs

    spec = IMAGE_SETS[part]
    recipes = mf._target_specs()
    names = sorted(recipes)
    out = []
    for i in range(lo, hi):
        rng = np.random.default_rng(np.random.PCG64((seed, spec["tag"], i)))
        px, caption, _blocks = recipes[names[i % len(names)]][0](rng)
        if spec["crop"]:
            ch, cw = spec["crop"][int(rng.integers(0, len(spec["crop"])))]
            y0 = (px.shape[0] - ch) // 2
            x0 = (px.shape[1] - cw) // 2
            px = np.ascontiguousarray(px[y0 : y0 + ch, x0 : x0 + cw])
        if spec["caption"] == "long":
            caption = _long_caption(mf, rng)
        fmt = FMT_CYCLE[i % len(FMT_CYCLE)]
        h, w = px.shape[:2]
        if i % ERROR_EVERY == ERROR_EVERY - 1:
            data = bytes(rng.integers(0, 256, size=64, dtype=np.uint8))
        else:
            data = codecs.encode(px, fmt)
        row = {"image_id": f"{spec['prefix']}{i:08d}", "bytes": data, "w": w, "h": h,
               "fmt": fmt, "caption": caption, "phash": 0}
        lab = assess_row(row)
        out.append((row, {k: lab[k] for k in LABEL_KEYS}))
    return out


def _write_images(seed: int, d: str, procs: int) -> dict:
    chunks = []
    for part, spec in IMAGE_SETS.items():
        n = spec["rows"]
        step = max(16, n // (procs * 2))
        chunks += [(part, seed, lo, min(n, lo + step)) for lo in range(0, n, step)]
    pool = mp.get_context("spawn").Pool(procs)
    try:
        done = pool.map(_image_rows, chunks)
        pool.close()
    finally:
        pool.terminate()
        pool.join()
        del pool
        stop_resource_tracker()
    rows = {part: [] for part in IMAGE_SETS}
    labels = []
    for (part, *_), out in zip(chunks, done):
        rows[part] += [r for r, _ in out]
        labels += [lab for _, lab in out]
    pq.write_table(pa.Table.from_pylist(rows["bulk"], schema=IMAGE_SCHEMA),
                   os.path.join(d, "images.parquet"))
    os.makedirs(os.path.join(d, "landing"))
    k = STREAM_ROWS_PER_FILE
    for f in range(0, len(rows["stream"]), k):
        pq.write_table(pa.Table.from_pylist(rows["stream"][f : f + k], schema=IMAGE_SCHEMA),
                       os.path.join(d, "landing", f"part-{f // k:05d}.parquet"))
    pq.write_table(pa.Table.from_pylist(labels), os.path.join(d, "labels.parquet"))
    return {part: {"rows": len(r), "bytes": sum(len(x["bytes"]) for x in r)}
            for part, r in rows.items()}


def stop_resource_tracker() -> None:
    """Stop and reap the helper process a spawn-context pool starts to
    track its semaphores.  Left alone it outlives this process."""
    import gc
    from multiprocessing import resource_tracker

    gc.collect()  # finalise the pool's locks so the helper has nothing to unlink
    resource_tracker._resource_tracker._stop()


# ------------------------------------------------------------ documents

def _documents(seed: int) -> pa.Table:
    """``documents`` in the schema of the TPC-H-ish sf* tables: 30-100
    random words over the per-language vocabularies.  5 % are exact and
    5 % near copies (a few words replaced) of earlier originals, so the
    near-duplicate graph is a set of stars and the connected-components
    round count does not depend on the seed."""
    import qfilter.textops as textops

    langs = ["en", "de", "fr", "es", "ru"]
    vocab = {lang: textops._WORDS[lang].split() for lang in langs}
    rng = np.random.default_rng(np.random.PCG64((seed, 14)))
    texts, doc_langs, originals = [], [], []
    for i in range(CORPUS_DOCS):
        r = rng.random()
        if originals and r < 0.10:
            j = originals[int(rng.integers(0, len(originals)))]
            ws = texts[j].split()
            if r >= 0.05:
                for _ in range(max(1, len(ws) // 20)):
                    ws[int(rng.integers(0, len(ws)))] = vocab[doc_langs[j]][int(rng.integers(0, 50))]
            texts.append(" ".join(ws))
            doc_langs.append(doc_langs[j])
            continue
        lang = langs[int(rng.integers(0, len(langs)))]
        n = int(rng.integers(30, 100))
        texts.append(" ".join(vocab[lang][k] for k in rng.integers(0, len(vocab[lang]), size=n)))
        doc_langs.append(lang)
        originals.append(i)
    return pa.table({
        "doc_id": pa.array(np.arange(CORPUS_DOCS, dtype=np.int64)),
        "text": texts,
        "lang": doc_langs,
        "source": [f"src{i % 20}" for i in range(CORPUS_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


# The queries below restate, for a documents table at any path, the
# frozen ``oracle_sql()`` entries of ``__spark_entry__`` for the same
# operators (which are bound to the sf0.01 table).
_DUP_DOCS = ("SELECT doc_id, text, lang FROM documents "
             "UNION ALL SELECT doc_id + 1000000, text, lang FROM documents")
CORPUS_SQL = {
    "exact_dedup": (
        "SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS dup_count "
        f"FROM ({_DUP_DOCS}) GROUP BY md5(text)"
    ),
    "trigram_jaccard_pairs": """
      WITH docs AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') ws FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               list_slice(ws, 1, greatest(CAST(floor(len(ws) * 0.8) AS INT), 1))
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') ws FROM documents)
      ),
      tri_all AS (
        SELECT DISTINCT doc_id,
               ws[i + 1] || ' ' || ws[i + 2] || ' ' || ws[i + 3] AS shingle
        FROM docs, UNNEST(range(0, greatest(len(ws) - 2, 0))) AS t(i)
        WHERE len(ws) >= 3
      ),
      keep_sh AS (SELECT shingle FROM tri_all GROUP BY shingle HAVING count(*) <= 64),
      tri AS (SELECT t.doc_id, t.shingle FROM tri_all t JOIN keep_sh USING (shingle)),
      sizes AS (SELECT doc_id, count(*) n_sh FROM tri GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id id1, b.doc_id id2, count(*) n_inter
        FROM tri a JOIN tri b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
      SELECT i.id1, i.id2, i.n_inter, sa.n_sh AS n1, sb.n_sh AS n2,
             CAST(i.n_inter AS DOUBLE)
               / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) AS jaccard
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id1
      JOIN sizes sb ON sb.doc_id = i.id2
      WHERE CAST(i.n_inter AS DOUBLE)
            / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.4
    """,
    "minhash_lsh_dup_pairs": "SELECT id1, id2, est_jaccard FROM read_parquet('{pairs}')",
    "neardup_components": """
      WITH RECURSIVE
      p AS (SELECT id1, id2 FROM read_parquet('{pairs}') WHERE est_jaccard >= 0.5),
      e AS (SELECT id1 AS src, id2 AS dst FROM p UNION ALL SELECT id2, id1 FROM p),
      walk(v, comp) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM e)
        UNION
        SELECT e.src, w.comp FROM e JOIN walk w ON e.dst = w.v
      )
      SELECT v AS doc_id, min(comp) AS component FROM walk GROUP BY v
    """,
}


def _write_corpus(seed: int, d: str, mem_mb: int) -> dict:
    import duckdb
    import make_oracle_sidecars as sidecars

    sf = os.path.join(d, "sf")
    os.makedirs(sf)
    pq.write_table(_documents(seed), os.path.join(sf, "documents.parquet"))
    # the repository's pure-Python XXH64 MinHash-LSH oracle, written
    # under the cache instead of oracle_out/
    sidecars.OUT_DIR = d
    pairs = sidecars.build_minhash_pairs(sf)
    con = duckdb.connect()
    try:
        # one thread: four threads measured 11.5 GB RSS on a 5-gram query
        con.execute("SET threads=1")
        con.execute(f"SET memory_limit='{mem_mb}MB'")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')")
        for name, sql in CORPUS_SQL.items():
            con.execute(sql.format(pairs=pairs)).arrow().to_pandas().to_parquet(
                os.path.join(d, f"oracle_{name}.parquet"))
    finally:
        con.close()
    return {"rows": CORPUS_DOCS, "bytes": os.path.getsize(os.path.join(sf, "documents.parquet"))}


def ensure_inputs(workload: str, seed: int, cache_dir: str, procs: int, mem_mb: int) -> tuple[str, dict]:
    """Generate (or reuse) the inputs and oracle answers of one run."""
    d = os.path.join(cache_dir, f"{workload}-seed{seed}")
    meta_path = os.path.join(d, "META.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return d, json.load(f)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if workload == "corpus_neardup":
        meta = _write_corpus(seed, tmp, mem_mb)
    else:
        meta = _write_images(seed, tmp, procs)
    with open(os.path.join(tmp, "META.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d, meta


def read_labels(d: str, prefix: str) -> dict[str, dict]:
    rows = pq.read_table(os.path.join(d, "labels.parquet")).to_pylist()
    return {r["image_id"]: r for r in rows if r["image_id"].startswith(prefix)}
