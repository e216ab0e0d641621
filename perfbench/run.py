"""Benchmark of record for the entity-resolution engine (bench.py is not).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (workloads.py): er_batch and
cc_chains, which BENCHMARK.json lists, plus er_checkpointed and queries;
`--workload all` runs all four, each in its own process.

One process is the only client, with one operation in flight (a closed
loop). It starts Spark on local[<cores>], where <cores> is the CPUs this
process may run on, at the session's default driver memory. Set-up is
timed from process start, less the seeded input generation, until the
cold first op completes. The workload's warmup_ops untimed ops follow,
so the JVM has compiled the hot code; then ops run until --seconds have passed, and
every metric is the median over those timed ops. Every output, the
cold and warm-up ops' too, is checked.

--trace 0 reports the end-to-end metrics, with tracing off: the JSON
line holds the bounded ones (END_TO_END), and the report also prints op
wall, throughput and peak RSS. --trace 1
runs the same loop with Spark's event log on, then one traced op and the
kernel micro-layer, and reports the per-layer metrics of tracing.py. The
layers of the two workloads not in BENCHMARK.json are traced as well:
the er_batch run adds one traced checkpointed op and its resume, and the
cc_chains run adds a checked cold sweep and a traced sweep of the
queries.

Lines starting with '#' are a human-readable report: each metric with
its unit and sample count, host sizing, CPU steal, and the decisions the
program made. The last line of stdout is one JSON object. The exit code
is 1 when an op fails or an output check fails.

All scratch files go under .perfbench_work/ in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.monotonic()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# The bounded end-to-end metrics of BENCHMARK.json. Op wall time is
# reported beside them but not bounded: on a 4-vCPU guest, hypervisor CPU
# steal of 30% doubles it (a stalled vCPU holds up every 4-task stage),
# and ten-run spreads reached 0.53 (quartile distance / median) where the
# same code read 0.10 in a quiet window. peak_rss_mb spread 0.45 at the
# session's 56g default heap.
END_TO_END = [("cpu_s", "s"), ("setup_s", "s")]
REPORTED = [
    ("wall_s", "s"), ("rows_per_s", "rows/s"), ("cpu_s", "s"), ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
]


def _isolate_env() -> None:
    """Keep every file Spark, the JVM and the kernels write under WORK."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local", "ckernels", "eventlog", "warehouse"):
        os.makedirs(os.path.join(WORK, d))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_GRAFT_CKERNEL_DIR"] = os.path.join(WORK, "ckernels")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
    )
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _start_spark(name: str, trace: bool):
    from entity_resolution__spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(
        f"perfbench-{name}", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf=conf,
    )


def _stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    spark.stop()
    # close py4j before the JVM exits, so objects freed later send nothing
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _failed_tasks(spark) -> int:
    """Failed task attempts in the jobs Spark still retains."""
    st = spark.sparkContext.statusTracker()
    n = 0
    for job in st.getJobIdsForGroup(None):
        info = st.getJobInfo(job)
        for sid in info.stageIds if info else []:
            stage = st.getStageInfo(sid)
            n += stage.numFailedTasks if stage else 0
    return n


# per-layer metric prefix -> the pipeline stage it is measured on
_ER_LAYERS = (
    ("canonicalize", "conversations"), ("blocking", "blocks"),
    ("pairs", "candidate_pairs"), ("score", "scores"), ("cluster", "clusters"),
)


def _report(label: str, values: list[float], unit: str) -> None:
    shown = ", ".join(f"{v:.4f}" for v in values)
    print(
        f"# {label} = {statistics.median(values):.4f} {unit}"
        f" (median of n={len(values)}: {shown})"
    )


class Run:
    """One benchmark run: its workload, samples, failures and outputs."""

    def __init__(self, args) -> None:
        from perfbench.procstat import ProcTree
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.wl = WORKLOADS[args.workload](args.seed)
        self.tree = ProcTree()
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.outputs: list = []
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.resumes: list[float] = []

    def op(self, spark, tracer=None, keep: bool = True, wl=None):
        """One timed op (plus the resume, for er_checkpointed) and its checks."""
        wl = wl or self.wl
        self.attempted += 1
        try:
            cpu0 = self.tree.sample()
            t0 = time.monotonic()
            out = wl.op(spark, tracer)
            wall = time.monotonic() - t0
            cpu = self.tree.sample() - cpu0
            errors = wl.check(out["output"])
            results = [out["output"]]
            if hasattr(wl, "resume"):
                again = wl.resume(spark, out, tracer)
                errors += wl.check(again["output"])
                results.append(again["output"])
                out["resume_s"] = again["resume_s"]
                if tracer is None:
                    wl.discard(out)
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            return None
        if errors:
            self.failed += 1
            self.errors += errors
        if wl is self.wl and wl.name.startswith("er_"):
            self.outputs += results
        out["outputs"] = results
        if keep:
            self.walls.append(wall)
            self.cpus.append(cpu)
            if "resume_s" in out:
                self.resumes.append(out["resume_s"])
        out["wall"], out["cpu"] = wall, cpu
        return out

    def execute(self, prepare_s: float) -> dict:
        from perfbench.procstat import RssSampler, steal_seconds

        args = self.args
        with RssSampler(self.tree):
            t0 = time.monotonic()
            spark = _start_spark(args.workload, args.trace)
            try:
                t1 = time.monotonic()
                self.wl.load(spark)
                t2 = time.monotonic()
                cold = self.op(spark, keep=False)
                t3 = time.monotonic()
                self.setup_s = t3 - T_START - prepare_s
                self.setup_parts = {
                    "prepare_s": prepare_s, "session_s": t1 - t0,
                    "load_s": t2 - t1, "cold_op_s": t3 - t2,
                }
                warm = cold is not None
                for _ in range(self.wl.warmup_ops):
                    warm = warm and self.op(spark, keep=False) is not None
                self.setup_parts["warmup_s"] = time.monotonic() - t3
                t0, steal0 = time.monotonic(), steal_seconds()
                while warm:
                    self.op(spark)
                    if time.monotonic() - t0 >= args.seconds:
                        break
                self.steal_share = (steal_seconds() - steal0) / (
                    (time.monotonic() - t0) * len(os.sched_getaffinity(0))
                )
                layers = self.trace_op(spark) if args.trace else None
                t4 = time.monotonic()
                if not self.failed:
                    self.errors += self.wl.final_check(spark, self.outputs)
                self.setup_parts["final_check_s"] = time.monotonic() - t4
                self.decisions = self._decisions(spark)
                conf = spark.sparkContext.getConf()
                self.host = {
                    "master": conf.get("spark.master"),
                    "spark.driver.memory": conf.get("spark.driver.memory"),
                    "cpus": len(os.sched_getaffinity(0)),
                }
            finally:
                _stop_spark(spark)
        if layers is not None:
            self._finish_layers(layers)
        return layers

    def _decisions(self, spark) -> dict:
        from entity_resolution__spark.functions import strings

        d = {
            "kernel_tier": "c" if strings._CK is not None else "python",  # noqa: SLF001
            "failed_tasks": _failed_tasks(spark),
        }
        its = getattr(self.wl, "iterations", None)
        res = getattr(self.wl, "last_result", None)
        if res is not None:
            its = res.cc_iterations
        if its is not None:
            d["cc_path"] = "driver_dsu" if its == 0 else f"star_loop({its} rounds)"
        return d

    # -- traced run -------------------------------------------------------
    def trace_op(self, spark) -> dict:
        from perfbench import tracing
        from perfbench.workloads import ER_ENTITIES, QueriesWorkload, canon_clusters

        wl = self.wl
        tracer = tracing.Tracer(spark, self.tree)
        gc0 = tracing.jvm_gc_seconds(spark)
        t0 = time.time()
        out = self.op(spark, tracer, keep=False)
        m = {name: 0.0 for name, _ in tracing.PER_LAYER}
        if out is None:
            return {"metrics": m}
        m["spark.gc_s"] = tracing.jvm_gc_seconds(spark) - gc0
        m["spark.heap_used_mb"] = tracing.jvm_heap_used_mb(spark)
        m["session.driver_mem_gb"] = tracing.size_gb(
            spark.sparkContext.getConf().get("spark.driver.memory", "1g")
        )
        m["trace.op_wall_s"] = out["wall"]
        if self.walls:
            m["trace.overhead_s"] = out["wall"] - statistics.median(self.walls)
        if wl.name.startswith("er_"):
            spans = self._er_layers(m, tracer, out)
            if hasattr(wl, "resume"):
                self._checkpoint_layers(m, wl, tracer, out)
            else:
                # the store path runs once here, for the checkpoint layer
                # and the row-for-row check against this op's clusters
                twin = wl.checkpointed_twin()
                ck_tracer = tracing.Tracer(spark, self.tree)
                ck_out = self.op(spark, ck_tracer, keep=False, wl=twin)
                if ck_out is not None:
                    self._checkpoint_layers(m, twin, ck_tracer, ck_out)
                    ref = canon_clusters(out["output"])
                    if not all(canon_clusters(o).equals(ref) for o in ck_out["outputs"]):
                        self.errors.append("er_checkpointed: clusters differ from er_batch")
        elif wl.name == "cc_chains":
            spans = tracer.spans
            m["cluster.wall_s"] = sum(s["t1"] - s["t0"] for s in spans)
            m["cluster.cpu_s"] = sum(s["cpu"] for s in spans)
            m["cluster.gc_s"] = sum(s["gc"] for s in spans)
            m["cluster.iterations"] = wl.iterations
            if wl.iterations == 0:
                m["cluster.driver_rows"] = wl.input_rows
            # the query layer is traced here: a cold sweep (checked against
            # the DuckDB oracles), then one traced sweep
            queries = QueriesWorkload(self.args.seed)
            queries.prepare(os.path.join(WORK, "input-queries"))
            queries.load(spark)
            if self.op(spark, keep=False, wl=queries) is not None:
                self._query_layers(m, spark, queries)
        else:
            spans = tracer.spans
            self._query_layers(m, spark, wl, tracer)
        m["pipeline.unattributed_s"] = out["wall"] - sum(s["t1"] - s["t0"] for s in spans)
        m.update(tracing.kernel_metrics(self.args.seed, ER_ENTITIES))
        return {"metrics": m, "op_span": {"t0": t0, "t1": t0 + out["wall"]}, "spans": spans}

    def _query_layers(self, m: dict, spark, wl, tracer=None) -> None:
        """query.<name>.wall_s from the spans of one traced sweep."""
        from perfbench import tracing

        if tracer is None:
            tracer = tracing.Tracer(spark, self.tree)
            if self.op(spark, tracer, keep=False, wl=wl) is None:
                return
        for s in tracer.spans:
            m[f"{s['name']}.wall_s"] = s["t1"] - s["t0"]

    def _er_layers(self, m: dict, tracer, out: dict) -> list[dict]:
        res = self.wl.last_result
        stages = tracer.stage_spans(list(res.stage_wall))
        for layer, stage in _ER_LAYERS:
            s = stages[stage]
            m[f"{layer}.wall_s"] = s["t1"] - s["t0"]
            m[f"{layer}.cpu_s"] = s["cpu"]
            m[f"{layer}.gc_s"] = s["gc"]
        # row counts from the op's public outputs, outside the timing
        m["canonicalize.rows_out"] = res.conversations.count()
        m["blocking.keys_out"] = res.blocks.count()
        m["pairs.pairs_out"] = m["score.pairs_in"] = res.pairs.count()
        # kept at the keep threshold, per candidate pair the stage received
        kept = res.scored.filter("prob_match >= 0.45").count()
        m["score.useful_ratio"] = kept / max(m["score.pairs_in"], 1)
        m["constraints.dropped_rows"] = res.dropped.count()
        m["cluster.iterations"] = res.cc_iterations
        if res.cc_iterations == 0:
            m["cluster.driver_rows"] = res.edges.filter("prob_match >= 0.6").count()
        m["quality.pair_f1"] = self.wl.f1
        return list(stages.values())

    @staticmethod
    def _checkpoint_layers(m: dict, wl, tracer, out: dict) -> None:
        """Checkpoint metrics of one traced store op and its resume."""
        from perfbench import tracing

        stages = tracer.stage_spans(list(wl.last_result.stage_wall))
        m["constraints.wall_s"] = sum(
            stages[s]["t1"] - stages[s]["t0"] for s in ("edges", "edges_dropped")
        )
        for kind in ("commit", "read"):
            m[f"checkpoint.{kind}_s"] = sum(
                s["t1"] - s["t0"] for s in tracer.spans if s["name"].startswith(kind + ".")
            )
        m["checkpoint.resume_s"] = out["resume_s"]
        size, files = tracing.dir_size(out["store_root"])
        m["checkpoint.bytes_written_mb"] = size / 2**20
        m["checkpoint.files_written"] = files
        wl.discard(out)

    def _finish_layers(self, layers: dict) -> None:
        """Fold the event log (complete only after the session stops) in."""
        from perfbench import tracing

        m = layers["metrics"]
        tasks, jobs = tracing.read_event_log(os.path.join(WORK, "eventlog"))
        m["spark.failed_tasks"] = sum(t["failed"] or t["retry"] for t in tasks)
        if "op_span" not in layers:
            return
        spans = layers["spans"]
        by_name = {s["name"]: s for s in spans}
        for layer, stage in _ER_LAYERS:
            if stage in by_name:
                st = tracing.task_stats(tasks, [by_name[stage]])
                for k in ("spill_mb", "shuffle_write_mb", "task_skew"):
                    if f"{layer}.{k}" in m:
                        m[f"{layer}.{k}"] = st[k]
        if self.wl.name == "cc_chains":
            m["cluster.shuffle_write_mb"] = tracing.task_stats(tasks, spans)[
                "shuffle_write_mb"
            ]
        gaps = tracing.gap_jobs(jobs, layers["op_span"], spans)
        m["pipeline.jobs"] = len(gaps)
        for j in gaps:
            took = (j["end"] or j["submit"]) - j["submit"]
            print(
                f"# unattributed job {j['id']} after {j['after']}: {took:.3f} s"
                f" {j['call_site']}"
            )
        for s in spans:
            print(f"# span {s['name']}: {s['t1'] - s['t0']:.3f} s")


def _run_all(args) -> int:
    """Every workload, each in its own process; non-zero if any failed."""
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    failed = []
    for name in WORKLOADS:
        rc = subprocess.call(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)]
        )
        if rc:
            failed.append(name)
    print(f"# failed workloads: {failed}" if failed else "# all workloads passed")
    return 1 if failed else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return _run_all(args)

    sys.path.insert(0, ROOT)
    # fail fast, before any output, where the program is not present
    import entity_resolution__spark.plans.pipeline  # noqa: F401

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    _isolate_env()
    run = Run(args)
    t0 = time.monotonic()
    run.wl.prepare(os.path.join(WORK, "input"))
    prepare_s = time.monotonic() - t0
    layers = run.execute(prepare_s)
    shutil.rmtree(WORK, ignore_errors=True)

    print(
        f"# host: {json.dumps(run.host)} workload={args.workload}"
        f" seed={args.seed} input_rows={run.wl.input_rows}"
        f" cpu_steal_during_ops={run.steal_share:.1%}"
    )
    print(f"# decisions: {json.dumps(run.decisions)}")
    print("# phases: " + " ".join(f"{k}={v:.3f}" for k, v in run.setup_parts.items()))
    for e in run.errors:
        print(f"# FAILED: {e.strip()}")
    correct = not run.errors and run.failed == 0
    metrics: dict = {}
    if run.walls:
        values = {
            "wall_s": run.walls,
            "rows_per_s": [run.wl.input_rows / w for w in run.walls],
            "cpu_s": run.cpus,
            "setup_s": [run.setup_s],
            "peak_rss_mb": [run.tree.peak_rss / 2**20],
        }
        for name, unit in REPORTED:
            _report(name, values[name], unit)
        if run.resumes:
            _report("resume_s", run.resumes, "s")
        if hasattr(run.wl, "f1"):
            print(f"# pair_f1 = {run.wl.f1:.6f} clusters = {run.wl.n_clusters}")
        if layers is None:
            metrics = {
                name: {"value": statistics.median(values[name]), "unit": unit}
                for name, unit in END_TO_END
            }
    if layers is not None:
        from perfbench.tracing import PER_LAYER

        layers["metrics"]["session.peak_rss_mb"] = run.tree.peak_rss / 2**20
        metrics = {
            name: {"value": float(layers["metrics"][name]), "unit": unit}
            for name, unit in PER_LAYER
        }
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
