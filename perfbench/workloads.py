"""The benchmark workloads: set-up warm-up, one timed iteration, output
check, and the traced run's per-layer extras.

Each iteration returns its rows, wall time, commit-unit walls (waves,
micro-batches or operator calls) and how many rows failed.  Output
checks raise ``Mismatch``; the runner turns that into a non-zero exit.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics

import pandas as pd

from probe import Tracer, now, sql_metric, tail, tree_cpu_s


class Mismatch(AssertionError):
    """An output differs from the oracle or is not exactly-once."""


MAX_FILES_PER_TRIGGER = 8  # the stream_quality_filter / qfilter stream default
CHECK_COLS = ["image_id", "category", "reason", "keep", "caption_scrubbed", "pii_hits", "tox_hits"]


def check_labels(rows: list, labels: dict[str, dict], with_error: bool) -> int:
    """Compare output rows to the oracle; return rows not present exactly
    once.  Any value mismatch raises."""
    seen: dict[str, int] = {}
    bad = []
    for r in rows:
        d = r.asDict()
        iid = d["image_id"]
        seen[iid] = seen.get(iid, 0) + 1
        ref = labels.get(iid)
        if ref is None:
            bad.append((iid, "unknown image_id"))
            continue
        for c in CHECK_COLS[1:]:
            if d[c] != ref[c]:
                bad.append((iid, c, d[c], ref[c]))
        if with_error and (d["error"] is None) != (ref["error"] is None):
            bad.append((iid, "error", d["error"], ref["error"]))
    if bad:
        raise Mismatch(f"{len(bad)} mismatched outputs, first: {bad[:3]}")
    return sum(1 for iid in labels if seen.get(iid, 0) != 1) + sum(
        n - 1 for iid, n in seen.items() if n > 1)


class Part:
    """Shared plumbing of a workload or one part of it."""

    def __init__(self, ctx, name: str):
        self.ctx = ctx
        self.name = name
        self.tracer: Tracer = ctx.tracer

    @property
    def spark(self):
        return self.ctx.spark

    def fresh_dir(self, tag: str) -> str:
        d = os.path.join(self.ctx.work, "out", f"{self.name}-{tag}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.dirname(d), exist_ok=True)
        return d

    def noop(self, df) -> float:
        t = now()
        df.write.format("noop").mode("overwrite").save()
        return now() - t

    def job_count(self) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup())


# ------------------------------------------------------------ pipeline

class BulkPipeline(Part):
    """``QualityFilterPipeline.run`` over distinct images in two waves of
    ``nproc`` partitions: killed after the first wave with the public
    ``fail_after_wave`` and resumed by a fresh pipeline on the same
    ``out_dir`` (catalog writes, then lineage reads for resume)."""

    KILL_AFTER = 0

    def __init__(self, ctx):
        super().__init__(ctx, "bulk")
        self.wave_size = ctx.nproc
        self.n_parts = 2 * ctx.nproc

    def warmup(self):
        from gen import read_labels

        self.labels = read_labels(self.ctx.input_dir, "img")
        self.images = self.spark.read.parquet(os.path.join(self.ctx.input_dir, "images.parquet"))

    def pipeline(self, out_dir: str):
        from qfilter.pipeline import QualityFilterPipeline

        pipe = QualityFilterPipeline(self.spark, out_dir, n_parts=self.n_parts,
                                     wave_size=self.wave_size)
        self.tracer.wrap_methods(pipe.catalog, "catalog", ["append", "read", "snapshots"])
        self.tracer.wrap_methods(pipe, "pipeline", ["run", "status"])
        return pipe

    def run_pipeline(self, out: str):
        from qfilter.pipeline import PipelineKilled

        first = self.pipeline(out)
        try:
            first.run(self.images, run_id="first", fail_after_wave=self.KILL_AFTER)
        except PipelineKilled:
            pass
        else:
            raise Mismatch("fail_after_wave did not stop the run")
        resumed = self.pipeline(out)
        want = self.wave_size * (self.KILL_AFTER + 1)
        committed = resumed.status()["committed"]
        if committed != want:
            raise Mismatch(f"resume sees {committed} committed parts, not {want}")
        resumed.run(run_id="resume")
        return resumed

    def waves(self, since: int) -> list[float]:
        """Wave walls: start of the labels append to the end of that
        wave's lineage commit."""
        appends = self.tracer.select("catalog.append", since)
        starts = [s["start"] for s in appends if s["table"] == "labels"]
        ends = [s["end"] for s in appends if s["table"] == "lineage"]
        return [e - s for s, e in zip(starts, ends)]

    def verify(self, pipe) -> int:
        from pyspark.sql import functions as F

        rows = pipe.catalog.read(self.spark, "labels").select(*CHECK_COLS, "error").collect()
        failed = check_labels(rows, self.labels, with_error=True)
        lin = (pipe.catalog.read(self.spark, "lineage").groupBy("part_id")
               .agg(F.count(F.lit(1)).alias("n"), F.sum("rows_out").alias("rows")).collect())
        if any(r.n != 1 for r in lin) or sum(r.rows for r in lin) != len(self.labels):
            raise Mismatch(f"lineage not exactly-once: {len(lin)} parts, "
                           f"{sum(r.rows for r in lin)} rows_out for {len(self.labels)} rows")
        return failed

    def iterate(self, k: int) -> dict:
        out = self.fresh_dir(str(k))
        mark, jobs = len(self.tracer.spans), self.job_count()
        t, cpu = now(), tree_cpu_s()
        pipe = self.run_pipeline(out)
        wall, cpu = now() - t, tree_cpu_s() - cpu
        jobs = self.job_count() - jobs
        return {"rows": len(self.labels), "wall": wall, "cpu": cpu, "commits": self.waves(mark),
                "failed": self.verify(pipe), "mark": mark, "out": out, "jobs": jobs}

    def layers(self, it: dict) -> dict[str, float]:
        tr, m, waves = self.tracer, it["mark"], it["commits"]
        label_s = tr.total("catalog.append", m, table="labels")
        manifest = data = 0
        for root, _dirs, files in os.walk(os.path.join(it["out"], "warehouse")):
            for f in files:
                if f.endswith(".json"):
                    manifest += os.path.getsize(os.path.join(root, f))
                elif f.endswith(".parquet"):
                    data += 1
        return {
            "catalog.append_s": tr.total("catalog.append", m),
            "catalog.append_calls": len(tr.select("catalog.append", m)),
            "catalog.read_s": tr.total("catalog.read", m),
            "catalog.read_calls": len(tr.select("catalog.read", m)),
            "catalog.snapshots_calls": len(tr.select("catalog.snapshots", m)),
            "catalog.manifest_bytes": manifest,
            "catalog.data_files": data,
            "pipeline.waves": len(waves),
            "pipeline.label_s": label_s,
            "pipeline.commit_s": sum(waves) - label_s,
            "pipeline.jobs_per_wave": it["jobs"] / len(waves),
            "pipeline.status_s": tr.total("pipeline.status", m),
            "pipeline.wave_p50_s": statistics.median(waves),
            "pipeline.wave_tail_s": tail(waves)[0],
            # pipeline work outside the label stage: ingest, resume
            # planning, lineage and metrics commits, status
            "_commit_s": it["wall"] - label_s,
        }

    def ledger_runner(self, it: dict):
        """Runs a ledger layer as one batch job per wave over the ingested
        input; returns the summed job walls."""
        from pyspark.sql import functions as F

        from qfilter.catalog import Catalog

        parted = Catalog(os.path.join(it["out"], "warehouse")).read(self.spark, "images_parted")
        waves = [parted.filter(F.col("part_id").isin(list(range(lo, lo + self.wave_size))))
                 .drop("part_id") for lo in range(0, self.n_parts, self.wave_size)]

        def run(transform, parquet: bool) -> float:
            t = now()
            for wave in waves:
                w = transform(wave).write
                if parquet:
                    w.parquet(self.fresh_dir("ledger"))
                else:
                    w.format("noop").mode("overwrite").save()
            return now() - t

        return run


# ------------------------------------------------------------ streaming

def _progress(q) -> list[dict]:
    """Progress of a drained query's micro-batches that read rows."""
    out = [p if isinstance(p, dict) else p.jsonValue() for p in q.recentProgress]
    return [p for p in out if p.get("numInputRows", 0) > 0]


class StreamDrain(Part):
    """``stream_quality_filter`` (CLI-default ``max_files_per_trigger``)
    draining a landing dir of small files with availableNow."""

    def __init__(self, ctx):
        super().__init__(ctx, "stream")

    def warmup(self):
        from gen import read_labels
        from qfilter.streaming import IMAGES_SCHEMA

        self.labels = read_labels(self.ctx.input_dir, "str")
        self.landing = os.path.join(self.ctx.input_dir, "landing")
        self.images = self.spark.read.schema(IMAGES_SCHEMA).parquet(self.landing)

    def ledger_runner(self, it: dict):
        """Runs a ledger layer as an availableNow drain of the landing dir
        (same micro-batches as the workload); returns its micro-batches'
        planning + addBatch time."""
        from qfilter.streaming import IMAGES_SCHEMA

        def run(transform, parquet: bool) -> float:
            out = self.fresh_dir("ledger")
            src = (self.spark.readStream.schema(IMAGES_SCHEMA)
                   .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER).parquet(self.landing))
            w = (transform(src).writeStream.option("checkpointLocation", os.path.join(out, "ckpt"))
                 .trigger(availableNow=True))
            w = w.format("parquet").option("path", os.path.join(out, "out")) if parquet else w.format("noop")
            q = w.start()
            q.awaitTermination()
            return sum(p["durationMs"].get(k, 0) for p in _progress(q)
                       for k in ("addBatch", "queryPlanning")) / 1e3

        return run

    def iterate(self, k: int) -> dict:
        from qfilter.streaming import stream_quality_filter

        out = self.fresh_dir(str(k))
        t, cpu = now(), tree_cpu_s()
        with self.tracer.span("streaming.stream_quality_filter"):
            q = stream_quality_filter(self.spark, self.landing, os.path.join(out, "out"),
                                      os.path.join(out, "ckpt"))
            q.awaitTermination()
        wall, cpu = now() - t, tree_cpu_s() - cpu
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        progress = _progress(q)
        rows = self.spark.read.parquet(os.path.join(out, "out")).select(*CHECK_COLS).collect()
        return {"rows": len(self.labels), "wall": wall, "cpu": cpu,
                "failed": check_labels(rows, self.labels, with_error=False),
                "commits": [p["durationMs"]["triggerExecution"] / 1e3 for p in progress],
                "progress": progress}

    def layers(self, it: dict) -> dict[str, float]:
        d = [p["durationMs"] for p in it["progress"]]

        def total(*keys):
            return sum(x.get(k, 0) for x in d for k in keys) / 1e3

        return {
            "streaming.batches": len(d),
            "streaming.add_batch_s": total("addBatch"),
            "streaming.planning_s": total("queryPlanning"),
            "streaming.offset_s": total("latestOffset", "getBatch"),
            "streaming.commit_s": total("walCommit", "commitOffsets"),
            "streaming.batch_p50_s": statistics.median(it["commits"]),
            "streaming.batch_tail_s": tail(it["commits"])[0],
            # drain work outside the micro-batches' planning and sink
            # writes (which a ledger job pays as its own wall)
            "_commit_s": it["wall"] - total("addBatch", "queryPlanning"),
        }


class FilterStream(Part):
    """Both production entry points over one seeded image set: the batch
    pipeline with kill and resume, then a streaming drain."""

    def __init__(self, ctx):
        super().__init__(ctx, "filter_stream")
        self.parts = [BulkPipeline(ctx), StreamDrain(ctx)]

    def warmup(self):
        """Load both inputs and run the UDF stages over a few rows per
        core: spawns the Python workers, each building its text bundle."""
        from qfilter.cascade import with_labels
        from qfilter.features import with_all_features

        for p in self.parts:
            p.warmup()
        n = self.ctx.nproc
        self.noop(with_labels(with_all_features(self.parts[0].images.limit(8 * n).repartition(n))))

    def iterate(self, k: int) -> dict:
        its = [p.iterate(k) for p in self.parts]
        return {"rows": sum(i["rows"] for i in its), "wall": sum(i["wall"] for i in its),
                "cpu": sum(i["cpu"] for i in its), "commits": [c for i in its for c in i["commits"]],
                "failed": sum(i["failed"] for i in its), "parts": its}

    def traced_layers(self, untraced: dict, traced: dict) -> dict[str, float]:
        layer: dict[str, float] = {"layer.commit_s": 0.0}
        for p, it in zip(self.parts, traced["parts"]):
            layer.update(p.layers(it))
            layer["layer.commit_s"] += layer.pop("_commit_s")
        kern = image_kernels(self.ctx.input_dir)
        layer["_body_s"] = kern.pop("_body_us_per_row") * traced["rows"] / 1e6
        layer.update(kern)
        runners = [p.ledger_runner(it) for p, it in zip(self.parts, untraced["parts"])]
        layer.update(stage_ledger(self, runners))
        explained = layer["layer.sink_s"] + layer["layer.commit_s"]
        layer["layer.residual_frac"] = (untraced["wall"] - explained) / untraced["wall"]
        return layer

    def scaling(self, untraced: dict, make_spark) -> float:
        """rows/s of the pipeline part at local[nproc] ÷ (nproc × rows/s
        at local[1])."""
        bulk = self.parts[0]
        it_n = untraced["parts"][0]
        self.ctx.spark.stop()
        self.ctx.spark = make_spark("local[1]")
        self.warmup()
        it_1 = bulk.iterate(1_000)
        return (it_n["rows"] / it_n["wall"]) / (self.ctx.nproc * it_1["rows"] / it_1["wall"])


# --------------------------------------------------------------- corpus

CORPUS_OPS = ["exact_dedup", "trigram_jaccard_pairs", "minhash_lsh_dup_pairs", "neardup_components"]


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


class CorpusNeardup(Part):
    """exact_dedup -> trigram_jaccard_pairs -> minhash_lsh_dup_pairs ->
    neardup_components over a seeded ``documents`` table."""

    def __init__(self, ctx):
        super().__init__(ctx, "corpus_neardup")
        self.ops: dict[str, dict] = {}

    def warmup(self):
        import pyarrow.parquet as pq

        from qfilter import corpus

        self.sf = os.path.join(self.ctx.input_dir, "sf")
        self.oracle = {op: _normalize(pd.read_parquet(
            os.path.join(self.ctx.input_dir, f"oracle_{op}.parquet"))) for op in CORPUS_OPS}
        self.docs = pq.read_metadata(os.path.join(self.sf, "documents.parquet")).num_rows
        # a first read, hash and shuffle over a 48-document slice
        warm = self.fresh_dir("warm")
        os.makedirs(warm)
        pq.write_table(pq.read_table(os.path.join(self.sf, "documents.parquet")).slice(0, 48),
                       os.path.join(warm, "documents.parquet"))
        corpus.exact_dedup(self.spark, warm).toPandas()

    def iterate(self, k: int) -> dict:
        from qfilter import corpus

        mark = len(self.tracer.spans)
        walls, cpu = [], 0.0
        for op in CORPUS_OPS:
            rest_mark = self.ctx.rest.mark() if self.ctx.rest else None
            with self.tracer.span(f"corpus.{op}"):
                t_op, cpu_op = now(), tree_cpu_s()
                got = getattr(corpus, op)(self.spark, self.sf).toPandas()
                walls.append(now() - t_op)
                cpu += tree_cpu_s() - cpu_op
            if rest_mark is not None:
                self.ops[op] = self.ctx.rest.since(rest_mark)
            want, got = self.oracle[op], _normalize(got)
            if list(got.columns) != list(want.columns) or not got.equals(want):
                raise Mismatch(f"{op}: {len(got)} rows differ from the oracle's {len(want)}")
        self.spark.catalog.clearCache()
        return {"rows": self.docs, "wall": sum(walls), "cpu": cpu, "commits": walls,
                "failed": 0, "mark": mark}

    def traced_layers(self, untraced: dict, traced: dict) -> dict[str, float]:
        layer = {f"corpus.{op}_s": self.tracer.total(f"corpus.{op}", traced["mark"])
                 for op in CORPUS_OPS}
        tri = self.ops["trigram_jaccard_pairs"]["sql_nodes"]
        # the largest join output of the operator: its shingle self-join
        cand = max([v for k, v in tri.items()
                    if "Join" in k.split("|")[0] and k.endswith("|number of output rows")],
                   default=0.0)
        layer["corpus.trigram_candidate_rows"] = cand
        layer["corpus.trigram_pair_yield"] = (
            len(self.oracle["trigram_jaccard_pairs"]) / cand if cand else 0.0)
        # jobs of the connected-components rounds: neardup_components
        # minus the pair generation it shares with minhash_lsh_dup_pairs
        layer["corpus.cc_jobs"] = (self.ops["neardup_components"]["jobs"]
                                   - self.ops["minhash_lsh_dup_pairs"]["jobs"])
        return layer


WORKLOADS = {"filter_stream": FilterStream, "corpus_neardup": CorpusNeardup}


# ---------------------------------------------------------- traced run

def image_kernels(input_dir: str, limit: int = 128) -> dict[str, float]:
    """Single-process µs/row of the kernels the UDFs call, over the first
    ``limit`` rows of each image set, in 64-row batches."""
    import numpy as np
    import pyarrow.parquet as pq

    from qfilter import codecs, textops
    from qfilter.batch_image import image_features_batch
    from qfilter.batch_text import caption_features_frame
    from qfilter.features import _HEUR_KEEP

    rows = pq.read_table(os.path.join(input_dir, "images.parquet")).to_pylist()[:limit]
    stream = []
    for f in sorted(glob.glob(os.path.join(input_dir, "landing", "*.parquet"))):
        stream.extend(pq.read_table(f).to_pylist())
        if len(stream) >= limit:
            break
    rows += stream[:limit]
    out: dict[str, float] = {}
    t = now()
    bundle = textops.build_default_bundle()
    out["textops.bundle_build_s"] = now() - t
    by_fmt: dict[str, list[float]] = {}
    pxs, nbytes = [], 0
    for r in rows:
        t = now()
        try:
            px = codecs.decode(r["bytes"], r["fmt"], r["w"], r["h"])
        except Exception:  # noqa: BLE001 — planted decode-error rows
            px = None
        by_fmt.setdefault(r["fmt"], []).append(now() - t)
        if px is not None:
            pxs.append(px)
            nbytes += len(r["bytes"])
    dec = [x for xs in by_fmt.values() for x in xs]
    out["codecs.decode_us_per_row"] = 1e6 * sum(dec) / len(dec)
    for fmt in ("raw", "bmp", "png", "qjpg"):
        xs = by_fmt.get(fmt, [])
        out[f"codecs.decode_us_per_row.{fmt}"] = 1e6 * sum(xs) / len(xs) if xs else 0.0
    out["codecs.bytes_decoded"] = nbytes
    t, groups = now(), []
    for i in range(0, len(pxs), 64):
        batch = pxs[i : i + 64]
        image_features_batch(batch)
        groups.append(len(batch) / len({p.shape[:2] for p in batch}))
    feat_s = now() - t
    out["batch_image.features_us_per_row"] = 1e6 * feat_s / len(pxs)
    out["batch_image.rows_per_shape_group"] = statistics.mean(groups)
    t = now()
    for i in range(0, len(rows), 64):
        chunk = rows[i : i + 64]
        caption_features_frame(bundle, [r["caption"] for r in chunk], [None] * len(chunk),
                               np.array([r["w"] for r in chunk]), np.array([r["h"] for r in chunk]),
                               _HEUR_KEEP)
    out["batch_text.caption_us_per_row"] = 1e6 * (now() - t) / len(rows)
    t = now()
    for i in range(0, len(rows), 64):
        bundle.scrub.scrub_series([r["caption"] for r in rows[i : i + 64]])
    out["textops.scrub_us_per_row"] = 1e6 * (now() - t) / len(rows)
    # the UDF bodies' time on these rows, per row
    out["_body_us_per_row"] = (1e6 * (sum(dec) + feat_s) / len(rows)
                               + out["batch_text.caption_us_per_row"]
                               + out["textops.scrub_us_per_row"])
    return out


def stage_ledger(part: Part, runners: list) -> dict[str, float]:
    """Cumulative noop-sink walls, run the way the workload runs (one
    batch job per wave, a drain for the stream): scan -> +decode ->
    +image -> +caption -> +cascade -> +parquet sink; and an
    identity-body UDF pass over the same columns (the Arrow<->pandas
    boundary alone)."""
    import numpy as np
    from pyspark.sql import functions as F

    from qfilter import codecs
    from qfilter.cascade import with_labels
    from qfilter.features import (CAPTION_SCRUB_SCHEMA, IMAGE_FEATURES_SCHEMA,
                                  with_all_features, with_image_features)
    from qfilter.streaming import LABEL_OUT_COLS

    @F.pandas_udf("long")
    def decode_only(data: pd.Series, fmt: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
        out = np.full(len(data), -1, dtype=np.int64)
        for i, (b, f, ww, hh) in enumerate(zip(data, fmt, w, h)):
            try:
                out[i] = codecs.decode(b, f, int(ww), int(hh)).size
            except Exception:  # noqa: BLE001 — planted decode-error rows
                pass
        return pd.Series(out)

    dtypes = {"boolean": bool, "long": np.int64, "integer": np.int32}

    def zeros(schema, n):
        return pd.DataFrame({
            f.name: [None] * n if f.dataType.typeName() == "string"
            else np.zeros(n, dtype=dtypes.get(f.dataType.typeName(), np.float64))
            for f in schema})

    @F.pandas_udf(IMAGE_FEATURES_SCHEMA)
    def identity_image(data: pd.Series, fmt: pd.Series, w: pd.Series, h: pd.Series) -> pd.DataFrame:
        return zeros(IMAGE_FEATURES_SCHEMA, len(data))

    @F.pandas_udf(CAPTION_SCRUB_SCHEMA)
    def identity_caption(caption: pd.Series, w: pd.Series, h: pd.Series) -> pd.DataFrame:
        return zeros(CAPTION_SCRUB_SCHEMA, len(caption))

    cols = [F.col(c) for c in ("bytes", "fmt", "w", "h")]

    def labeled(src):
        return with_labels(with_all_features(src)).select(*LABEL_OUT_COLS)

    layers = {
        "layer.scan_s": (lambda src: src, False),
        "layer.decode_s": (lambda src: src.select("image_id", decode_only(*cols)), False),
        "layer.image_s": (with_image_features, False),
        "layer.caption_s": (with_all_features, False),
        "layer.cascade_s": (labeled, False),
        "layer.sink_s": (labeled, True),
        "_identity_s": (lambda src: src.select(
            "image_id", identity_image(*cols),
            identity_caption(F.col("caption"), F.col("w"), F.col("h"))), False),
    }
    with part.tracer.span("layer.ledger"):
        out = {name: sum(run(transform, parquet) for run in runners)
               for name, (transform, parquet) in layers.items()}
    out["features.identity_udf_s"] = out.pop("_identity_s") - out["layer.scan_s"]
    return out


# Per-layer metrics, in BENCHMARK.json order: name -> (unit, better).
# A layer that a workload does not exercise reads 0 there.
_S, _US, _B, _N, _R = "s", "us", "bytes", "count", "ratio"
PER_LAYER = {
    "session.get_spark_s": (_S, "lower"),
    "textops.bundle_build_s": (_S, "lower"),
    "textops.scrub_us_per_row": (_US, "lower"),
    "codecs.decode_us_per_row": (_US, "lower"),
    **{f"codecs.decode_us_per_row.{f}": (_US, "lower") for f in ("raw", "bmp", "png", "qjpg")},
    "codecs.bytes_decoded": (_B, "lower"),
    "batch_image.features_us_per_row": (_US, "lower"),
    "batch_image.rows_per_shape_group": ("rows", "higher"),
    "batch_text.caption_us_per_row": (_US, "lower"),
    "features.python_sent_bytes": (_B, "lower"),
    "features.python_received_bytes": (_B, "lower"),
    "features.python_boot_s": (_S, "lower"),
    "features.python_init_s": (_S, "lower"),
    "features.python_total_s": (_S, "lower"),
    "features.identity_udf_s": (_S, "lower"),
    "features.boundary_frac": (_R, "lower"),
    **{f"layer.{n}_s": (_S, "lower")
       for n in ("scan", "decode", "image", "caption", "cascade", "sink", "commit")},
    "layer.residual_frac": (_R, "lower"),
    "catalog.append_s": (_S, "lower"),
    "catalog.append_calls": (_N, "lower"),
    "catalog.read_s": (_S, "lower"),
    "catalog.read_calls": (_N, "lower"),
    "catalog.snapshots_calls": (_N, "lower"),
    "catalog.manifest_bytes": (_B, "lower"),
    "catalog.data_files": (_N, "lower"),
    "pipeline.waves": (_N, "lower"),
    "pipeline.label_s": (_S, "lower"),
    "pipeline.commit_s": (_S, "lower"),
    "pipeline.jobs_per_wave": (_N, "lower"),
    "pipeline.status_s": (_S, "lower"),
    "pipeline.wave_p50_s": (_S, "lower"),
    "pipeline.wave_tail_s": (_S, "lower"),
    "streaming.batches": (_N, "lower"),
    "streaming.add_batch_s": (_S, "lower"),
    "streaming.planning_s": (_S, "lower"),
    "streaming.offset_s": (_S, "lower"),
    "streaming.commit_s": (_S, "lower"),
    "streaming.batch_p50_s": (_S, "lower"),
    "streaming.batch_tail_s": (_S, "lower"),
    **{f"spark.{n}": (_N, "lower") for n in ("jobs", "stages", "tasks", "failed_tasks")},
    **{f"spark.{n}": (_S, "lower") for n in ("task_s", "cpu_s", "gc_s")},
    "spark.core_idle_frac": (_R, "lower"),
    **{f"spark.{n}": (_B, "lower") for n in ("shuffle_read_bytes", "shuffle_write_bytes",
                                             "spill_bytes", "input_bytes", "output_bytes")},
    "spark.scaling_eff": (_R, "higher"),
    "spark.peak_rss_mb": ("MB", "lower"),
    **{f"corpus.{op}_s": (_S, "lower") for op in CORPUS_OPS},
    "corpus.trigram_candidate_rows": ("rows", "lower"),
    "corpus.trigram_pair_yield": (_R, "higher"),
    "corpus.cc_jobs": (_N, "lower"),
    "trace.overhead_frac": (_R, "lower"),
}


def traced_layers(wl, untraced: dict, traced: dict, tot: dict) -> dict[str, float]:
    """The per-layer ledger of a traced run."""
    layer = dict.fromkeys(PER_LAYER, 0.0)
    layer.update(wl.traced_layers(untraced, traced))
    for k in ("jobs", "stages", "tasks", "failed_tasks", "task_s", "cpu_s", "gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
              "output_bytes"):
        layer[f"spark.{k}"] = tot[k]
    layer["spark.core_idle_frac"] = 1 - tot["task_s"] / (wl.ctx.nproc * traced["wall"])
    nodes = tot["sql_nodes"]
    for key, name in (("python_sent_bytes", "data sent to Python workers"),
                      ("python_received_bytes", "data returned from Python workers"),
                      ("python_boot_s", "time to start Python workers"),
                      ("python_init_s", "time to initialize Python workers"),
                      ("python_total_s", "time to run Python workers")):
        layer[f"features.{key}"] = sql_metric(nodes, "ArrowEvalPython", name)
    body_s = layer.pop("_body_s", 0.0)
    if layer["features.python_total_s"]:
        layer["features.boundary_frac"] = 1 - body_s / layer["features.python_total_s"]
    layer["trace.overhead_frac"] = traced["wall"] / untraced["wall"] - 1
    return layer
