"""Benchmark harness.

Per-round driver contract: run headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], print ONE
JSON line {"metric", "value", "unit": "sec", "queries": {...}, "sf"}.
The printed line is kept COMPACT (≤ ~1.9 KB — the driver records only a
~2 KB tail, which truncated round 3's output); every rep, per-stage
split and load snapshot goes to BENCH_DETAIL.json instead.

Also measures the ER pipeline itself on deterministic synthetic
transcripts (turns/sec — BASELINE.json.metric). Every ER measurement is
run in a fresh subprocess at BOTH local[8] and local[$CPUS] (round-2
VERDICT #1): this host fair-shares sustained 32-thread bursts, so a
single local[32] wall time is bimodal (judge: 35.3 s at local[8] vs
216.6 s at local[32], same box, back to back). The JSON therefore
carries, per run, per-stage CPU seconds alongside wall seconds
(_proc_tree_cpu over /proc — covers the JVM and every Python worker):
throttling is PROVABLE as cpu/wall ≪ thread count instead of inferred
from loadavg. er_pipeline (headline) = best wall across both levels;
er/er_local8 record each level; scaling efficiency (throughput_cpus /
throughput_8) / (cpus/8) is reported whenever cpus != 8.

SPARK_GRAFT_SCALING_ONLY=1 runs the dedicated 2→8→32 sweep at a larger
input for the north-rule scaling evidence.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from entity_resolution__spark.session import get_spark, stop_spark  # noqa: E402

HEADLINE = [
    "pricing_summary",
    "top_revenue",
    "window_order_rank",
    "events_hourly",
    "tokenize_stats",
    "exact_dedup",
    "minhash_signature",
    "ngram_neardup_pairs",
    "lang_quality",
    "embedding_topk",
    "knn_join",
    "simhash",
    "cc_clusters",
    "cohort_clusters",
    # round-6 corpus-hygiene family (repetition/quality/contamination
    # are the per-doc + broadcast-join shapes; kmv is the sketch path)
    "quality_gate",
    "contamination",
    "kmv_distinct",
]

BENCH_ENTITIES = int(os.environ.get("SPARK_GRAFT_BENCH_ENTITIES", "6000"))

# Quiet-host reference for the v2 single-thread speed probe
# (BASELINE.md round 5: 0.243-0.255 steady-state at load < 0.4).
PROBE_REF_SEC = 0.25

# Clean-host engine cpu_sec calibrations (BASELINE.md round 5): total
# process-tree CPU at fixed input is parallelism-invariant (~700-740
# cpu-s at 2.14M turns for every clean local[2]/local[8] leg), so a leg
# whose cpu_sec deviates >25% from its input's calibration ran
# cycle-diluted — even when loadavg and cpu/wall read clean (the
# round-5 co-tenant SMT dilution failure mode). Round-5 VERDICT #1:
# validity must gate on THIS, not just load+cpu/wall (BENCH_r05's
# cc_atsize passed `valid` while burning 2.9× the calibration).
# cc_atsize: unlike the compute-bound ER pipeline, the barrier-bound CC
# loop's cpu_sec is NOT parallelism-invariant — 11 shuffle rounds at 32
# threads pay a per-thread scheduler/spin tax (round-6 measurement:
# 263-267 cpu-s / 41-48 s wall at local[8] vs 2,159 cpu-s / 188 s wall
# at local[32], same 1.05M edges, both quiet windows). Calibration is
# therefore per-master; the bench runs the leg at local[8] by default
# (SPARK_GRAFT_CC_CPUS overrides) — identical distributed code path,
# 4.4× better wall, and the level a per-executor-core count on a real
# cluster resembles more closely than one 32-thread JVM.
CC_CAL_CPU_SEC = {"local[8]": 265.0, "local[32]": 2159.0}
# by n_entities; 256000 from the round-6 matched pair (clean local[2]
# leg 1,513.7 cpu-s at 4.29M turns — 2.09× the 32k calibration, i.e.
# cpu_sec stays linear in turns as well as parallelism-invariant)
ER_CAL_CPU_SEC = {6000: 110.0, 32000: 725.0, 256000: 1510.0}


def _cpu_match(cpu: float, cal: float | None) -> dict:
    """cpu-matching verdict vs a clean calibration: ratio + boolean
    (±25%). cal=None (no calibration for this input) → both None; the
    caller's validity gate then falls back to the load/cpu-per-wall
    checks alone."""
    if not cal:
        return {"cpu_vs_cal": None, "cpu_matched": None}
    r = cpu / cal
    return {"cpu_vs_cal": round(r, 3), "cpu_matched": bool(0.75 <= r <= 1.25)}


# Scaling evidence runs N vs 4N cores. Default 2→8 (not 8→32): this
# sandbox host carries ~7 cores of ambient co-tenant load ("0 user",
# load avg ~7 at idle), so a 32-thread run oversubscribes the free ~25
# cores and measures contention, not the pipeline. 2 and 8 threads both
# fit comfortably inside free capacity while preserving the 4× ratio
# the north_rule asks for. Overridable via env for a quiet host.
SCALING_ENTITIES = int(os.environ.get("SPARK_GRAFT_SCALING_ENTITIES", "32000"))
SCALING_N = int(os.environ.get("SPARK_GRAFT_SCALING_N", "2"))


def _bench_transcripts_path(n_entities: int | None = None) -> str:
    """Materialize the deterministic bench transcripts once as parquet
    (FIXTURES.md determinism rule: same (seed,size) → same content)."""
    n_entities = n_entities or BENCH_ENTITIES
    out = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".data",
        f"bench_transcripts_e{n_entities}",
    )
    marker = os.path.join(out, "_DONE")
    if not os.path.exists(marker):
        import pandas as pd  # noqa: F401

        from entity_resolution__spark.data.synth import make_transcripts

        pdf = make_transcripts(seed=42, n_entities=n_entities)
        # Spark can't read TIMESTAMP(NANOS) parquet — write micros
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        os.makedirs(out, exist_ok=True)
        # 16 files: a single pandas parquet file is one row group —
        # unsplittable, so Spark would scan it with ONE task
        n_files = 16
        step = (len(pdf) + n_files - 1) // n_files
        for i in range(n_files):
            chunk = pdf.iloc[i * step : (i + 1) * step]
            if len(chunk):
                chunk.to_parquet(
                    os.path.join(out, f"part-{i:02d}.parquet"), index=False
                )
        open(marker, "w").close()
    return out


class _ProcTreeCpuCounter:
    """Monotonic cumulative CPU seconds of this process tree — the
    driver, the Spark JVM, and all Python UDF workers (/proc only; no
    psutil in the container). Sampled at stage boundaries; differences
    give per-stage CPU.

    Monotonicity matters: a naive live-descendant sum DROPS a worker's
    time the instant Spark's python daemon tears it down (and
    cutime-based recovery races the reap / loses reparented orphans —
    observed as NEGATIVE stage CPU right after UDF stages). This
    counter keeps a per-process high-water mark and retires a process's
    last-seen total when it disappears, counting utime+stime only (no
    cutime — retiring already covers dead children, double-counting
    neither). Process identity is (pid, starttime) — /proc stat field
    22 — so a REUSED pid is always a new identity (ADVICE round 3: the
    old cur<last heuristic missed a reused pid whose successor had
    already accrued more CPU than the dead worker's total)."""

    def __init__(self) -> None:
        self._last: dict[tuple[int, int], float] = {}
        self._retired = 0.0
        self._hz = os.sysconf("SC_CLK_TCK")

    def __call__(self) -> float:
        import glob

        me = os.getpid()
        procs: dict[int, tuple[int, int, float]] = {}
        for stat in glob.glob("/proc/[0-9]*/stat"):
            try:
                with open(stat) as f:
                    data = f.read()
                rp = data.rindex(")")
                pid = int(data[: data.index(" ")])
                fields = data[rp + 2 :].split()
                # after comm: state(0) ppid(1) … utime(11) stime(12)
                # … starttime(19) (= proc(5) fields 3, 4, 14, 15, 22)
                cpu = (int(fields[11]) + int(fields[12])) / self._hz
                procs[pid] = (int(fields[1]), int(fields[19]), cpu)
            except (OSError, ValueError, IndexError):
                continue

        def is_mine(pid: int) -> bool:
            seen: set[int] = set()
            while pid and pid not in seen:
                if pid == me:
                    return True
                seen.add(pid)
                pid = procs.get(pid, (0, 0, 0.0))[0]
            return False

        live = {
            (p, start): c for p, (_, start, c) in procs.items() if is_mine(p)
        }
        for key, last in list(self._last.items()):
            if key not in live:  # died (pid reuse = different starttime)
                self._retired += last
                del self._last[key]
        for key, cur in live.items():
            self._last[key] = max(cur, self._last.get(key, 0.0))
        return self._retired + sum(self._last.values())


_proc_tree_cpu = _ProcTreeCpuCounter()


def _cpu_speed_probe() -> float:
    """Wall seconds for a FIXED single-thread workload (numpy matmul +
    pure-python loop) — a host-speed ruler. Round-5 finding: co-tenant
    VMs sharing SMT siblings/caches dilute cycles, so the same pipeline
    burns 1.5-3× the cpu_sec while guest loadavg stays low and
    cpu_per_wall still ≈ thread count — cpu-based validity checks alone
    cannot see it. The probe scales with the dilution: probe_sec vs the
    clean-host reference (recorded in BASELINE.md) attributes inflated
    stage CPU to the host, not the engine."""
    import numpy as np

    # STRICTLY single-thread components (round-5 review: an 800×800
    # matmul fans out across idle cores via multithreaded BLAS, so the
    # "ruler" would partially measure free-core availability): a pure
    # python loop + numpy ELEMENTWISE ufuncs (never BLAS-threaded).
    def work():
        a = np.random.default_rng(0).standard_normal(4_000_000)
        (np.exp(np.sin(a)) * 0.5).sum()
        x = 0
        for i in range(2_000_000):
            x += i * i

    # one FULL warm pass off the clock: the first numpy large-alloc +
    # ufunc dispatch in a fresh process costs ~2 s extra, and bench
    # children call the probe exactly once
    work()
    t0 = time.monotonic()
    work()
    return round(time.monotonic() - t0, 3)


def _wait_quiet(max_wait_sec: int = 900, probe_max: float = 0.28,
                load_max: float = 1.5) -> dict:
    """Block until the host window looks quiet (single-thread probe and
    load_1m both under threshold) or max_wait expires — the round-6
    probe-gated launch discipline: of five ungated ≥4M-turn scaling
    legs, four drew co-tenant bursts and failed cpu-matching; the one
    launched through this gate matched on the first try. Endpoint
    probes cannot veto a burst that arrives MID-run (observed: a leg
    with clean 0.27/0.25 endpoint probes burned 2.6× calibration), so
    this gate only raises the odds — the cpu-matching rule still
    delivers the verdict. Returns what it saw, so the caller can record
    whether the window was gated or the wait timed out."""
    t0 = time.monotonic()
    while True:
        p = _cpu_speed_probe()
        load = os.getloadavg()[0]
        waited = round(time.monotonic() - t0, 1)
        if (p <= probe_max and load < load_max) or waited >= max_wait_sec:
            return {
                "probe_sec": p,
                "load_1m": round(load, 2),
                "waited_sec": waited,
                "gated": bool(p <= probe_max and load < load_max),
            }
        time.sleep(30)


def _er_calibration(path: str) -> float | None:
    """Clean-host cpu_sec calibration for an ER fixture path (entity
    count is the `_e{n}` suffix written by _bench_transcripts_path)."""
    base = os.path.basename(path.rstrip("/"))
    if "_e" in base:
        try:
            return ER_CAL_CPU_SEC.get(int(base.rsplit("_e", 1)[1]))
        except ValueError:
            return None
    return None


def run_er_pipeline(master: str, shuffle: int, path: str) -> dict:
    """One full ER run (no checkpoint store): returns wall + turns/sec +
    per-stage wall times + host load snapshots (shared-box attribution —
    round-1 driver bench ran 3× slower than the builder's own number
    under an ambient load spike; the snapshots make that auditable)."""
    from entity_resolution__spark.plans.pipeline import ERConfig, run_pipeline

    # host-speed sample BEFORE the JVM exists: a post-run sample reads
    # the JVM's own teardown/GC threads as "dilution" (observed: probe
    # 0.79 after a record-fast 18.6 s run — self-load, not host)
    probe0 = _cpu_speed_probe()
    load0 = os.getloadavg()
    spark = get_spark("bench-er", master=master, shuffle_partitions=shuffle)

    # cumulative JVM GC seconds (all collectors) via py4j — splits each
    # stage's cpu_sec into mutator vs collector. Round-6 finding: the
    # "co-tenant dilution" on local[N≤8] legs was mostly G1 sizing ~23
    # GC workers off the 32-core HOST (see session.py gc_opts); this
    # probe makes any residual GC share auditable per stage.
    def _gc_sec() -> float:
        beans = (
            spark._jvm.java.lang.management.ManagementFactory  # noqa: SLF001
            .getGarbageCollectorMXBeans()
        )
        return sum(
            beans.get(i).getCollectionTime() for i in range(beans.size())
        ) / 1000.0

    sdf = spark.read.parquet(path)
    n_turns = sdf.count()
    # steady-state measurement: warm JVM codegen + Python UDF workers
    # once before the clock starts (cold-start costs ~30s and is not a
    # property of the pipeline)
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    # no type hints: `from __future__ import annotations` stringifies
    # them and the local `pd` alias can't be resolved by the inferrer
    @pandas_udf("double")
    def _warm(x):
        return x * 1.0

    spark.range(100_000).repartition(shuffle).select(
        F.sum(_warm(F.col("id").cast("double")))
    ).collect()
    cpu0 = _proc_tree_cpu()
    gcs0 = _gc_sec()
    t0 = time.monotonic()
    res = run_pipeline(
        spark,
        sdf,
        ERConfig(
            stage_timing=True, cpu_probe=_proc_tree_cpu, gc_probe=_gc_sec
        ),
    )
    row = res.clusters.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("cluster_id").alias("k"),
    ).collect()[0]
    n_clusters = int(row["k"])
    wall = time.monotonic() - t0
    cpu = _proc_tree_cpu() - cpu0
    gcs = _gc_sec() - gcs0
    out = {
        "wall_sec": round(wall, 3),
        "cpu_sec": round(cpu, 1),
        # threads actually obtained: ≪ thread count ⇒ host throttling
        # (or idle waits), ≈ thread count ⇒ fully compute-bound
        "cpu_per_wall": round(cpu / wall, 2),
        # host-speed ruler (see _cpu_speed_probe): ÷ the clean-host
        # reference in BASELINE.md to normalize cpu_sec for co-tenant
        # cycle dilution that loadavg/cpu_per_wall cannot see.
        # probe_sec = pre-JVM sample (authoritative); _end = post-run
        # (self-load-contaminated; kept to show drift)
        "probe_sec": probe0,
        "probe_sec_end": _cpu_speed_probe(),
        # cpu-matching vs the clean calibration for this input (round-5
        # VERDICT #1); the entity count is encoded in the fixture path
        **_cpu_match(cpu, _er_calibration(path)),
        "turns": n_turns,
        "turns_per_sec": round(n_turns / wall, 1),
        "clusters": n_clusters,
        "master": master,
        # JVM collector wall-time (G1 pauses + concurrent): cpu burned
        # by GC ≈ gc_sec × ParallelGCThreads — compare against the
        # stage cpu inflation before blaming the host
        "gc_sec": round(gcs, 1),
        "stages": res.stage_wall,
        "stages_cpu": res.stage_cpu,
        "stages_gc": res.stage_gc,
        "cc_iterations": res.cc_iterations,
        "load_1m_start": round(load0[0], 2),
        "load_1m_end": round(os.getloadavg()[0], 2),
    }
    stop_spark()
    return out


def run_er_pipeline_subprocess(master: str, shuffle: int, path: str) -> dict:
    """Run one ER measurement in a FRESH python+JVM subprocess.

    Reusing one process for several SparkSessions (stop_spark + new
    master) leaves the old context's Python-accumulator server dead
    while the new JVM still tries to ack it per task completion
    ("EOF reached before Python server acknowledged", observed 1500+
    times per multi-session run). Those failures serialize the
    single-threaded DAGScheduler event loop — the first session in a
    process measures fast, every later one crawls 2-5×. This was the
    round-1 scaling-efficiency artifact. Process isolation removes it."""
    import subprocess

    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--er-child",
         master, str(shuffle), path],
        capture_output=True, text=True, env=os.environ.copy(),
        # default fits the 2.14M-turn legs; the ≥4M-turn scaling pair
        # needs ~1h for its local[2] leg (round-6 VERDICT #5)
        timeout=int(os.environ.get("SPARK_GRAFT_CHILD_TIMEOUT", "3600")),
    )
    for line in (p.stdout or "").splitlines():
        if line.startswith("ERJSON "):
            return json.loads(line[len("ERJSON "):])
    raise RuntimeError(
        f"er child failed rc={p.returncode}\n{(p.stderr or '')[-2000:]}"
    )


def _write_detail(obj: dict, name: str = "BENCH_DETAIL.json") -> str:
    """Full-fidelity bench record → BENCH_DETAIL.json (round-3 VERDICT
    #2: the driver's tail window only captures ~2 KB, so the PRINTED
    line must stay compact — headline scalars only — while every rep,
    stage split and load snapshot lands here). Scaling-only sweeps pass
    name=SCALING_DETAIL.json so an ad-hoc scaling run can never clobber
    the committed quiet-window query sweep (happened in round 6)."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), name)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1)
    return os.path.basename(path)


def _er_summary(run: dict) -> dict:
    return {
        "wall_sec": run["wall_sec"],
        "turns_per_sec": run["turns_per_sec"],
        "cpu_sec": run.get("cpu_sec"),
        "cpu_per_wall": run["cpu_per_wall"],
        "cpu_matched": run.get("cpu_matched"),
        "probe_sec": run.get("probe_sec"),
        "master": run["master"],
    }


def run_cc_at_size(spark) -> dict:
    """Distributed connected components at size (round-3 VERDICT #4):
    ≥1M synthetic chain edges through the large-star/small-star loop
    (single-task union-find cutover disabled), wall + round count
    recorded. Long chains bound the expected rounds at ~log2(chain
    length)."""
    from entity_resolution__spark.data.synth import make_chain_edges
    from entity_resolution__spark.operators.cluster import connected_components

    edges, n_edges, _ = make_chain_edges(spark)
    probe0 = _cpu_speed_probe()  # pre-run sample (JVM idle at this point)
    load0 = os.getloadavg()[0]
    cpu0 = _proc_tree_cpu()
    t0 = time.monotonic()
    res = connected_components(edges, local_threshold=0)
    n_roots = res.assignments.select("root").distinct().count()
    wall = time.monotonic() - t0
    cpu = _proc_tree_cpu() - cpu0
    return {
        "edges": n_edges,
        "wall_sec": round(wall, 2),
        # round-4 VERDICT #3: without CPU accounting a throttled 485 s
        # rep is indistinguishable from the 76 s clean number. The CC
        # loop is barrier/shuffle-bound, so even a clean run obtains
        # well under the full thread count — the calibrated clean
        # cpu_per_wall at local[32] on a quiet host is ~4-6; a
        # fair-share-throttled rep drops below ~1.5 with ambient load
        # riding high. valid = plausibly-clean measurement.
        "cpu_sec": round(cpu, 1),
        "cpu_per_wall": round(cpu / wall, 2),
        "probe_sec": probe0,
        "load_1m_start": round(load0, 2),
        **_cpu_match(
            cpu,
            CC_CAL_CPU_SEC.get(spark.sparkContext.master)
            if n_edges == 1_050_000
            else None,
        ),
        # threshold scales with the session's thread count (round-5
        # review: the old fixed 1.5 encoded a local[32] calibration —
        # clean cpu/wall for the barrier-bound loop is ~1/3 of threads,
        # so 0.15·threads splits clean from fair-share-throttled at any
        # master). Load threshold likewise scales with the host size
        # (round-5 ADVICE: fixed 8.0 is too strict on a big host, too
        # lax on an 8-core one). And the decisive check is cpu-matching
        # vs the clean calibration (round-5 VERDICT #1): a 2.9×-diluted
        # run must NOT read valid just because its own threads were
        # obtained and guest load was low.
        "valid": bool(
            cpu / wall >= 0.15 * spark.sparkContext.defaultParallelism
            and load0 < 0.25 * (os.cpu_count() or 32)
            and (
                _cpu_match(
                    cpu, CC_CAL_CPU_SEC.get(spark.sparkContext.master)
                )["cpu_matched"]
                is not False
            )
        ),
        "iterations": res.cc_iterations
        if hasattr(res, "cc_iterations")
        else res.iterations,
        "components": n_roots,
    }


def run_cc_at_size_subprocess(master: str, shuffle: int) -> dict:
    """cc_atsize in a FRESH subprocess (same isolation rationale as the
    ER legs): measured in-session after the query sweep it ran 2.4×
    slower than standalone — heap pressure and accumulated checkpoint
    blocks from 15 queries are not properties of the CC loop."""
    import subprocess

    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--cc-child",
         master, str(shuffle)],
        capture_output=True, text=True, env=os.environ.copy(),
        # default fits the 2.14M-turn legs; the ≥4M-turn scaling pair
        # needs ~1h for its local[2] leg (round-6 VERDICT #5)
        timeout=int(os.environ.get("SPARK_GRAFT_CHILD_TIMEOUT", "3600")),
    )
    for line in (p.stdout or "").splitlines():
        if line.startswith("CCJSON "):
            return json.loads(line[len("CCJSON "):])
    raise RuntimeError(
        f"cc child failed rc={p.returncode}\n{(p.stderr or '')[-2000:]}"
    )


def main() -> None:
    if len(sys.argv) >= 5 and sys.argv[1] == "--er-child":
        out = run_er_pipeline(sys.argv[2], int(sys.argv[3]), sys.argv[4])
        print("ERJSON " + json.dumps(out), flush=True)
        return
    if len(sys.argv) >= 4 and sys.argv[1] == "--cc-child":
        spark = get_spark(
            "bench-cc", master=sys.argv[2], shuffle_partitions=int(sys.argv[3])
        )
        out = run_cc_at_size(spark)
        stop_spark()
        print("CCJSON " + json.dumps(out), flush=True)
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    scaling = os.environ.get("SPARK_GRAFT_SCALING") == "1"
    scaling_only = os.environ.get("SPARK_GRAFT_SCALING_ONLY") == "1"
    er_path = _bench_transcripts_path()

    if scaling_only:
        # Dedicated scaling-evidence run (BASELINE.md): bigger input so
        # compute dominates the fixed overhead, best-of-reps per level to
        # ride out shared-host noise. Reports BOTH N→4N and 4N→16N
        # (default 2→8 and 8→32) so the claim is auditable on a shared
        # box where 32 threads may oversubscribe free capacity.
        sp = _bench_transcripts_path(SCALING_ENTITIES)
        reps = int(os.environ.get("SPARK_GRAFT_SCALING_REPS", "1"))
        env_levels = os.environ.get("SPARK_GRAFT_SCALING_LEVELS")
        if env_levels:
            levels = [int(x) for x in env_levels.split(",")]
        else:
            levels = [SCALING_N, SCALING_N * 4, min(SCALING_N * 16, 32)]
        levels = sorted(set(levels))
        runs: dict[str, list] = {f"local{n}": [] for n in levels}
        quiet_wait = int(os.environ.get("SPARK_GRAFT_SCALING_QUIET_WAIT", "900"))

        def _leg(n: int) -> dict:
            gate = _wait_quiet(quiet_wait)
            r = run_er_pipeline_subprocess(f"local[{n}]", n, sp)
            r["launch_gate"] = gate
            return r

        for _ in range(reps):
            for n in levels:
                runs[f"local{n}"].append(_leg(n))
        def _best(legs: list) -> dict:
            # fastest among cpu-matched legs when any exist — a flagged
            # leg may not enter the headline even if its wall was lucky
            ok = [r for r in legs if r.get("cpu_matched") is not False]
            return max(ok or legs, key=lambda r: r["turns_per_sec"])

        # one gated retry per level whose best leg failed cpu-matching
        # (the round-6 manual methodology, codified): a diluted leg
        # measures the host window, not the engine, and retrying it is
        # cheaper than discarding the whole pair. Every attempt stays
        # in all_runs — best-of with full provenance, not cherry-pick.
        for n in levels:
            if _best(runs[f"local{n}"]).get("cpu_matched") is False:
                runs[f"local{n}"].append(_leg(n))

        best = {n: _best(runs[f"local{n}"]) for n in levels}
        effs = {}
        for lo, hi in zip(levels, levels[1:]):
            ratio = hi / lo
            effs[f"efficiency_{lo}_to_{hi}"] = round(
                (best[hi]["turns_per_sec"] / best[lo]["turns_per_sec"]) / ratio, 3
            )
            # probe-normalized variant: each leg's throughput rescaled
            # by its own host-speed probe (round-5: co-tenant cycle
            # dilution can differ between legs minutes apart, making the
            # raw ratio meaningless — 1.52 "superlinear" observed)
            p_lo, p_hi = best[lo].get("probe_sec"), best[hi].get("probe_sec")
            if p_lo and p_hi:
                effs[f"efficiency_{lo}_to_{hi}_probe_norm"] = round(
                    (best[hi]["turns_per_sec"] * p_hi)
                    / (best[lo]["turns_per_sec"] * p_lo)
                    / ratio,
                    3,
                )
            # the round-5 cpu-matching rule, applied pairwise: the wall
            # ratio of two legs is a scaling measurement ONLY when their
            # engine cpu_sec agree (±25% of each other AND each within
            # calibration when one exists) — otherwise it measures the
            # host-speed difference between their windows
            c_lo, c_hi = best[lo]["cpu_sec"], best[hi]["cpu_sec"]
            effs[f"cpu_matched_{lo}_to_{hi}"] = bool(
                0.75 <= c_hi / c_lo <= 1.333
                and best[lo].get("cpu_matched") is not False
                and best[hi].get("cpu_matched") is not False
            )
        headline = effs.get(f"efficiency_{levels[0]}_to_{levels[0] * 4}")
        # per-stage efficiency between the N→4N pair (first two levels)
        lo, hi = levels[0], levels[1] if len(levels) > 1 else levels[0]
        stage_eff = {
            s: round((best[lo]["stages"][s] / best[hi]["stages"][s]) / (hi / lo), 3)
            for s in best[hi]["stages"]
            if best[hi]["stages"].get(s) and best[lo]["stages"].get(s)
        } if hi != lo else {}
        out = {
            "metric": "scaling_efficiency_n_to_4n",
            "value": headline,
            "unit": "ratio",
            **effs,
            "stage_eff": stage_eff,
            **{f"local{n}": _er_summary(best[n]) for n in levels},
            "entities": SCALING_ENTITIES,
        }
        out["detail"] = _write_detail(
            {"all_runs": runs, "best": best, "compact": out},
            name="SCALING_DETAIL.json",
        )
        print(json.dumps(out))
        return

    results: dict[str, float] = {}
    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    queries = entrymod.queries()
    # warm the JVM codegen path once with the cheapest query, and the
    # Python-worker/Arrow path with a trivial pandas UDF — worker spinup
    # (~15 s across 32 cores) is a fixture cost, not a query property
    queries["tokenize_stats"](spark, sf_dir).count()
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm(x):
        return x * 1.0

    spark.range(100_000).repartition(cpus).select(
        F.sum(_warm(F.col("id").cast("double")))
    ).collect()
    query_load: dict[str, float] = {}
    query_probe: dict[str, float] = {}
    query_reps: dict[str, list] = {}
    for name in HEADLINE:
        fn = queries[name]
        # per-query host-speed probe (round-5 VERDICT #2: the committed
        # r5 sweep ran at ambient load 3.2-6.2 and five walls regressed
        # for unchanged code; loadavg alone can't attribute that). The
        # pre-sample gates ONE retry: if the window was diluted going
        # in, re-measure once and keep the better wall — best-of with
        # every rep recorded, not silent cherry-picking.
        reps = []
        # retries must start from the SAME cache state as rep 1: the
        # shared neardup pair table (entrymod._NEARDUP_CACHE) is built
        # by whichever query touches it first, and a retry that reuses
        # rep 1's localCheckpoint measures the cache, not the query
        # (observed: 9.81 s diluted rep, 0.027 s "retry" — an artifact,
        # not a wall). Keys added during a rep are dropped before the
        # next one; keys that existed BEFORE rep 1 (an earlier HEADLINE
        # query legitimately paid for them) stay.
        pre_keys = set(getattr(entrymod, "_NEARDUP_CACHE", {}))
        for _attempt in range(2):
            p0 = _cpu_speed_probe()
            t0 = time.monotonic()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            reps.append(
                {"wall": round(time.monotonic() - t0, 3), "probe_sec": p0}
            )
            if p0 <= 1.4 * PROBE_REF_SEC:
                break
            cache = getattr(entrymod, "_NEARDUP_CACHE", {})
            for k in set(cache) - pre_keys:
                del cache[k]
        best_rep = min(reps, key=lambda r: r["wall"])
        results[name] = best_rep["wall"]
        query_probe[name] = best_rep["probe_sec"]
        query_reps[name] = reps
        query_load[name] = round(os.getloadavg()[0], 2)
        print(f"  {name}: {results[name]}s", file=sys.stderr, flush=True)
    stop_spark()
    cc_cpus = int(os.environ.get("SPARK_GRAFT_CC_CPUS", "8"))
    # one dilution-gated retry, mirroring the per-query retry: a window
    # that fails the cpu-matching gate (co-tenant cycle dilution —
    # observed 2.85× cal with probe 5.9 in a sweep-adjacent window that
    # re-measured clean at 0.92× minutes later) gets a second chance;
    # both attempts are recorded, valid-preferred then lowest-cpu kept.
    cc_attempts = [run_cc_at_size_subprocess(f"local[{cc_cpus}]", cc_cpus)]
    if not cc_attempts[0]["valid"]:
        time.sleep(30)  # let the sweep JVM teardown / load transient pass
        cc_attempts.append(run_cc_at_size_subprocess(f"local[{cc_cpus}]", cc_cpus))
    cc_atsize = max(
        cc_attempts, key=lambda r: (bool(r["valid"]), -r["cpu_sec"])
    )
    cc_atsize = dict(cc_atsize, attempts=cc_attempts)
    print(f"  cc_atsize: {cc_atsize}", file=sys.stderr, flush=True)

    # ER pipeline throughput: BOTH local[8] (reproducible on this host —
    # 8 threads stay under the fair-share throttle) and best-of-reps at
    # the round's CPU budget (bimodal under throttling; all reps
    # recorded with cpu-vs-wall so the mode is attributable). Headline
    # er_pipeline = best wall across both levels.
    er_reps = int(os.environ.get("SPARK_GRAFT_ER_REPS", "2"))
    er_runs = [
        run_er_pipeline_subprocess(f"local[{cpus}]", cpus, er_path)
        for _ in range(er_reps)
    ]
    er = max(er_runs, key=lambda r: r["turns_per_sec"])
    detail: dict = {
        "er_all_runs": er_runs,
        "query_load_1m": query_load,
        "query_probe_sec": query_probe,
        "query_reps": query_reps,
        "cc_atsize": cc_atsize,
    }
    compact: dict = {"er": _er_summary(er)}
    er8 = None
    if cpus != 8:
        # same rep count as the local[cpus] leg: a single local[8] run
        # against a best-of-N local[cpus] would bias the efficiency
        # ratio on a bimodal host (round-3 review)
        er8_runs = [
            run_er_pipeline_subprocess("local[8]", 8, er_path)
            for _ in range(er_reps)
        ]
        er8 = max(er8_runs, key=lambda r: r["turns_per_sec"])
        detail["er_local8_all_runs"] = er8_runs
        compact["er_local8"] = _er_summary(er8)
        compact["er_scaling_8_to_cpus"] = round(
            (er["turns_per_sec"] / er8["turns_per_sec"]) / (cpus / 8.0), 3
        )
        if er.get("probe_sec") and er8.get("probe_sec"):
            compact["er_scaling_8_to_cpus_probe_norm"] = round(
                (er["turns_per_sec"] * er["probe_sec"])
                / (er8["turns_per_sec"] * er8["probe_sec"])
                / (cpus / 8.0),
                3,
            )
        # per-stage parallel efficiency, first-class (round-3 VERDICT
        # #5): wall-based speedup per core ratio between the best runs
        # at each level; per-stage cpu/wall goes to the detail file so a
        # contended rep is attributable. The ratio is only meaningful
        # when BOTH legs actually obtained their threads — this host
        # fair-share-throttles sustained 32-thread bursts (cpu/wall ≪
        # cores), and an efficiency between a clean and a throttled leg
        # measures the throttle, not the engine; the marker says which.
        compact["er_stage_eff"] = {
            s: round((er8["stages"][s] / er["stages"][s]) / (cpus / 8.0), 3)
            for s in er["stages"]
            if er["stages"].get(s) and er8["stages"].get(s)
        }
        # valid needs BOTH legs un-throttled AND comparable host speed
        # (round-5: probe ratio between legs >1.25× means the ratio
        # measures co-tenant cycle dilution, not the engine) AND —
        # decisively (round-5 VERDICT #1) — both legs cpu-MATCHED: the
        # engine burns the same total cpu at fixed input regardless of
        # parallelism, so a leg whose cpu_sec is off-calibration (or
        # off its sibling's) ran diluted even if its probes read clean.
        _p1, _p2 = er.get("probe_sec"), er8.get("probe_sec")
        probe_ok = bool(_p1 and _p2 and 0.8 <= _p1 / _p2 <= 1.25)
        _legs_cpu_ok = bool(
            er.get("cpu_matched") is not False
            and er8.get("cpu_matched") is not False
            and 0.75 <= er["cpu_sec"] / er8["cpu_sec"] <= 1.333
        )
        compact["er_legs_cpu_matched"] = _legs_cpu_ok
        compact["er_stage_eff_valid"] = bool(
            er["cpu_per_wall"] >= 0.5 * cpus
            and er8["cpu_per_wall"] >= 0.5 * 8
            and probe_ok
            and _legs_cpu_ok
        )
        detail["er_stage_cpw"] = {
            f"local{n}": {
                s: round(run["stages_cpu"][s] / run["stages"][s], 2)
                for s in run["stages"]
                if run["stages"].get(s)
            }
            for n, run in ((8, er8), (cpus, er))
        }
        best = max([er, er8], key=lambda r: r["turns_per_sec"])
    else:
        best = er
    results["er_pipeline"] = best["wall_sec"]
    compact["er_best"] = {
        "master": best["master"],
        "wall_sec": best["wall_sec"],
        "turns_per_sec": best["turns_per_sec"],
    }
    if scaling:
        er8s = er8 or run_er_pipeline_subprocess("local[8]", 8, er_path)
        er32 = run_er_pipeline_subprocess("local[32]", 32, er_path)
        eff = (er32["turns_per_sec"] / er8s["turns_per_sec"]) / 4.0
        detail["scaling"] = {
            "local8": er8s,
            "local32": er32,
            "efficiency_n_to_4n": round(eff, 3),
        }
        compact["er_scaling_8_to_32"] = round(eff, 3)

    total = round(sum(results.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": results,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        **compact,
        "query_probe_range": [
            min(query_probe.values()),
            max(query_probe.values()),
        ],
        "cc_atsize": {
            k: cc_atsize[k]
            for k in (
                "edges", "wall_sec", "iterations", "cpu_per_wall",
                "cpu_vs_cal", "cpu_matched", "valid",
            )
            if k in cc_atsize
        },
    }
    detail["compact"] = out
    out["detail"] = _write_detail(detail)
    line = json.dumps(out)
    if len(line) > 1900:  # stay inside the driver's ~2 KB tail window
        for drop in ("er_stage_eff", "cc_atsize", "er_local8"):
            out.pop(drop, None)
            line = json.dumps(out)
            if len(line) <= 1900:
                break
    print(line)


if __name__ == "__main__":
    main()
