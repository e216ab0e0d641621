"""Traced run: spans recorded around calls into each layer, Spark task
metrics from the event log, and the kernel micro-layer.

Everything here observes the program from outside. Stage spans come
from the ERConfig cpu_probe/gc_probe hooks that plans.pipeline.staged()
calls at each stage's start and end; checkpoint spans from a StageStore
subclass that times commit() and read(); CC and query spans from job
groups set around the benchmark's own calls. A span's CPU is that of the
whole process tree (JVM and Python workers) and its GC that of the JVM.
Spark's event log supplies per-task times, shuffle write and spill,
bucketed into the spans by task launch time, and the jobs that ran
between spans.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd

# (name, unit) of every per-layer metric, in print order. A layer the
# workload does not run reports 0.
PER_LAYER = [
    ("canonicalize.wall_s", "s"), ("canonicalize.cpu_s", "s"),
    ("canonicalize.gc_s", "s"), ("canonicalize.rows_out", "count"),
    ("canonicalize.spill_mb", "MB"),
    ("blocking.wall_s", "s"), ("blocking.cpu_s", "s"),
    ("blocking.keys_out", "count"), ("blocking.shuffle_write_mb", "MB"),
    ("pairs.wall_s", "s"), ("pairs.pairs_out", "count"),
    ("pairs.shuffle_write_mb", "MB"), ("pairs.task_skew", "ratio"),
    ("score.wall_s", "s"), ("score.cpu_s", "s"), ("score.pairs_in", "count"),
    ("score.task_skew", "ratio"), ("score.useful_ratio", "ratio"),
    ("kernel.normalize_rows_per_s", "rows/s"),
    ("kernel.minhash_rows_per_s", "rows/s"),
    ("kernel.features_pairs_per_s", "pairs/s"),
    ("kernel.jw_pairs_per_s", "pairs/s"), ("kernel.lcs_pairs_per_s", "pairs/s"),
    ("kernel.ck_jw_pairs_per_s", "pairs/s"),
    ("kernel.ck_lcs_pairs_per_s", "pairs/s"),
    ("kernel.arrow_to_pandas_share", "ratio"), ("kernel.c_tier", "count"),
    ("constraints.wall_s", "s"), ("constraints.dropped_rows", "count"),
    ("cluster.wall_s", "s"), ("cluster.cpu_s", "s"), ("cluster.gc_s", "s"),
    ("cluster.iterations", "count"), ("cluster.driver_rows", "count"),
    ("cluster.shuffle_write_mb", "MB"),
    ("checkpoint.commit_s", "s"), ("checkpoint.read_s", "s"),
    ("checkpoint.bytes_written_mb", "MB"), ("checkpoint.files_written", "count"),
    ("checkpoint.resume_s", "s"),
    ("pipeline.unattributed_s", "s"), ("pipeline.jobs", "count"),
    ("spark.gc_s", "s"), ("spark.failed_tasks", "count"),
    ("spark.heap_used_mb", "MB"), ("session.driver_mem_gb", "GB"),
    ("session.peak_rss_mb", "MB"),
    ("quality.pair_f1", "ratio"),
    ("trace.op_wall_s", "s"), ("trace.overhead_s", "s"),
] + [
    (f"query.{q}.wall_s", "s")
    for q in (
        "pricing_summary", "top_revenue", "window_order_rank", "events_hourly",
        "tokenize_stats", "exact_dedup", "minhash_signature",
        "ngram_neardup_pairs", "lang_quality", "embedding_topk", "knn_join",
        "simhash", "cc_clusters", "cohort_clusters", "quality_gate",
        "contamination", "kmv_distinct",
    )
]

_MB = 1024.0 * 1024.0


def jvm_gc_seconds(spark) -> float:
    """Cumulative collection time of every JVM garbage collector."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()  # noqa: SLF001
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0


def jvm_heap_used_mb(spark) -> float:
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()  # noqa: SLF001
    return mx.getHeapMemoryUsage().getUsed() / _MB


def size_gb(conf_value: str) -> float:
    """A JVM size such as '56g' or '512m' in GB."""
    units = {"k": 2**-20, "m": 2**-10, "g": 1.0, "t": 2**10}
    v = conf_value.strip().lower()
    return float(v[:-1]) * units[v[-1]] if v[-1] in units else float(v) / 2**30


class Tracer:
    """Collects spans (name, wall-clock start/end, tree CPU, JVM GC)."""

    def __init__(self, spark, tree) -> None:
        self.spark = spark
        self.tree = tree
        self.spans: list[dict] = []
        self._stage_marks: list[tuple[float, float]] = []
        self._stage_gc: list[float] = []

    def _mark(self) -> tuple[float, float, float]:
        return time.time(), self.tree.sample(), jvm_gc_seconds(self.spark)

    @contextmanager
    def span(self, spark, name: str):
        sc = spark.sparkContext
        sc.setJobGroup(name, name)
        t0, c0, g0 = self._mark()
        try:
            yield
        finally:
            t1, c1, g1 = self._mark()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.spans.append(
                {"name": name, "t0": t0, "t1": t1, "cpu": c1 - c0, "gc": g1 - g0}
            )

    # -- ER stage hooks: staged() calls cpu_probe then gc_probe at each
    # stage's start and again at its end
    def _cpu_probe(self) -> float:
        t, cpu = time.time(), self.tree.sample()
        self._stage_marks.append((t, cpu))
        return cpu

    def _gc_probe(self) -> float:
        g = jvm_gc_seconds(self.spark)
        self._stage_gc.append(g)
        return g

    def er_config(self):
        from entity_resolution__spark.plans.pipeline import ERConfig

        self._stage_marks.clear()
        self._stage_gc.clear()
        return ERConfig(
            stage_timing=True, cpu_probe=self._cpu_probe, gc_probe=self._gc_probe
        )

    def stage_spans(self, stage_names: list[str]) -> dict[str, dict]:
        """Pair the probe marks with the stages, in the order they ran."""
        out = {}
        for i, name in enumerate(stage_names):
            (t0, c0), (t1, c1) = self._stage_marks[2 * i], self._stage_marks[2 * i + 1]
            g0, g1 = self._stage_gc[2 * i], self._stage_gc[2 * i + 1]
            out[name] = {"name": name, "t0": t0, "t1": t1, "cpu": c1 - c0, "gc": g1 - g0}
        return out

    def timed_store(self, root: str):
        from entity_resolution__spark.plans.checkpoint import StageStore

        tracer = self

        class TimedStageStore(StageStore):
            def commit(self, df, stage, fp, lineage=None, extra_metrics=None):
                t0 = time.time()
                try:
                    return super().commit(df, stage, fp, lineage, extra_metrics)
                finally:
                    tracer.spans.append(
                        {"name": f"commit.{stage}", "t0": t0, "t1": time.time()}
                    )

            def read(self, spark, stage):
                t0 = time.time()
                try:
                    return super().read(spark, stage)
                finally:
                    tracer.spans.append(
                        {"name": f"read.{stage}", "t0": t0, "t1": time.time()}
                    )

        return TimedStageStore(root)


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """(tasks, jobs) from the Spark event log, times in epoch seconds."""
    tasks, jobs = [], {}
    # Spark 4 writes a rolling log: a directory of events_* files
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    shuffle = m.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        {
                            "launch": info["Launch Time"] / 1000.0,
                            "finish": info["Finish Time"] / 1000.0,
                            "shuffle_write": shuffle.get("Shuffle Bytes Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                            "failed": ev["Task End Reason"]["Reason"] != "Success",
                            "retry": info.get("Attempt", 0) > 0,
                        }
                    )
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "id": ev["Job ID"],
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "call_site": props.get("callSite.short", ""),
                    }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
    return tasks, sorted(jobs.values(), key=lambda j: j["submit"])


def task_stats(tasks: list[dict], spans: list[dict]) -> dict:
    """Task metrics of the tasks launched inside any of `spans`."""
    inside = [
        t for t in tasks if any(s["t0"] <= t["launch"] < s["t1"] for s in spans)
    ]
    durations = [t["finish"] - t["launch"] for t in inside]
    med = statistics.median(durations) if durations else 0.0
    return {
        "shuffle_write_mb": sum(t["shuffle_write"] for t in inside) / _MB,
        "spill_mb": sum(t["spill"] for t in inside) / _MB,
        "task_skew": max(durations) / med if med > 0 else 0.0,
    }


def _rate(n: int, fn, reps: int = 3) -> tuple[float, float]:
    """(items per second, median seconds) of fn() over `reps` calls."""
    secs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        secs.append(time.perf_counter() - t0)
    s = statistics.median(secs)
    return n / s, s


def kernel_metrics(seed: int, n_entities: int, n_pairs: int = 4000) -> dict[str, float]:
    """Single-thread rates of the public kernels on batches built from the
    ER fixture, beside the pyarrow->pandas conversion of the same batches.
    One core runs each kernel, so rows/s here is rows/s per core."""
    import pyarrow as pa

    from entity_resolution__spark.data.synth import make_transcripts
    from entity_resolution__spark.functions import strings
    from entity_resolution__spark.functions.features import (
        MAX_KERNEL_CHARS,
        compute_feature_struct,
    )
    from entity_resolution__spark.functions.normalize import norm_and_tokens
    from entity_resolution__spark.operators.blocking import make_minhash_udf

    pdf = make_transcripts(seed=seed, n_entities=n_entities).sort_values(
        ["conv_id", "turn_idx"]
    )
    g = pdf.assign(tool=pdf["tool"].fillna("")).groupby("conv_id", sort=True)
    convs = pd.DataFrame(
        {
            "full_text": g["text"].agg(" ".join),
            "roles": g["role"].agg("\x1f".join),
            "tools": g["tool"].agg("\x1f".join),
        }
    ).reset_index()
    texts_arrow = pa.array(convs["full_text"])
    full_text = texts_arrow.to_pandas()
    n_conv = len(convs)
    out: dict[str, float] = {}
    conv_s, kernel_s = 0.0, 0.0

    norm = norm_and_tokens.func(full_text)["norm_text"]
    out["kernel.normalize_rows_per_s"], s = _rate(
        n_conv, lambda: norm_and_tokens.func(full_text)
    )
    kernel_s += s
    conv_s += _rate(1, texts_arrow.to_pandas)[1]

    norm_arrow = pa.array(norm)
    minhash = make_minhash_udf(32).func
    out["kernel.minhash_rows_per_s"], s = _rate(n_conv, lambda: minhash(norm))
    kernel_s += s
    conv_s += _rate(1, norm_arrow.to_pandas)[1]

    # candidate-like pairs: half within a latent family, half random
    # (convs are sorted by conv_id, so a family's variants are adjacent)
    rng = np.random.default_rng(seed)
    fam = convs["conv_id"].str.slice(1, 6).to_numpy()
    same = rng.choice(np.flatnonzero(fam[:-1] == fam[1:]), n_pairs // 2)
    rand = rng.integers(0, n_conv, (2, n_pairs - n_pairs // 2))
    left = np.concatenate([same, rand[0]])
    right = np.concatenate([same + 1, rand[1]])
    cols = {
        "norm_l": norm.to_numpy()[left], "norm_r": norm.to_numpy()[right],
        "roles_l": convs["roles"].to_numpy()[left],
        "roles_r": convs["roles"].to_numpy()[right],
        "tools_l": convs["tools"].to_numpy()[left],
        "tools_r": convs["tools"].to_numpy()[right],
    }
    batch = pa.RecordBatch.from_pydict({k: pa.array(v) for k, v in cols.items()})
    p = batch.to_pandas()
    args = [p[c] for c in cols]
    out["kernel.features_pairs_per_s"], s = _rate(
        n_pairs, lambda: compute_feature_struct(*args)
    )
    kernel_s += s
    conv_s += _rate(1, batch.to_pandas)[1]

    tl = p["norm_l"].str.slice(0, MAX_KERNEL_CHARS)
    tr = p["norm_r"].str.slice(0, MAX_KERNEL_CHARS)
    out["kernel.jw_pairs_per_s"] = _rate(
        n_pairs, lambda: strings.jaro_winkler_series(tl, tr)
    )[0]
    out["kernel.lcs_pairs_per_s"] = _rate(
        n_pairs, lambda: strings.indel_and_lcs_series(tl, tr)
    )[0]
    ck = strings._CK  # noqa: SLF001 - the tier the feature kernels use
    out["kernel.c_tier"] = 1.0 if ck is not None else 0.0
    if ck is not None:
        av, bv = tl.to_numpy(dtype=object), tr.to_numpy(dtype=object)
        out["kernel.ck_jw_pairs_per_s"] = _rate(n_pairs, lambda: ck.jw_batch(av, bv))[0]
        out["kernel.ck_lcs_pairs_per_s"] = _rate(n_pairs, lambda: ck.lcs_batch(av, bv))[0]
    out["kernel.arrow_to_pandas_share"] = conv_s / (conv_s + kernel_s)
    return out


def gap_jobs(jobs: list[dict], op_span: dict, spans: list[dict]) -> list[dict]:
    """Jobs submitted during the op but outside every span, each labelled
    with the span it follows (count() jobs carry no call site in Spark 4,
    so their position is what names them)."""
    out = []
    for j in jobs:
        if not op_span["t0"] <= j["submit"] < op_span["t1"]:
            continue
        if any(s["t0"] <= j["submit"] < s["t1"] for s in spans):
            continue
        before = [s["name"] for s in spans if s["t1"] <= j["submit"]]
        out.append({**j, "after": before[-1] if before else "op start"})
    return out


def dir_size(root: str) -> tuple[int, int]:
    """(bytes, data files) under root."""
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return size, files
