"""Count the Spark jobs, stages, tasks and Python worker tasks of each
run_pipeline op, from Spark's event log.

A Python task is a task of a stage that has an RDD scoped
ArrowEvalPython, BatchEvalPython, MapInPandas or MapInArrow, or an RDD
named PythonRDD: every such task hands rows to a Python worker. An RDD
reached only through a cached RDD that an earlier stage already
materialized does not count: that stage reads the cache and runs no
Python.

Usage:
  python tools/count_python_tasks.py [--ops 6] [--seed 42] [--entities 500]

The input is make_transcripts(seed, entities) written to parquet and read
back, and each op is perfbench's er_batch op (run_pipeline, then the
clusters fetched to pandas). Each op runs in its own job group; the
first ops include JIT and worker start-up, so read the later ones for
the steady state. Prints one line per op, then a JSON line.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

PYTHON_SCOPES = {"ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow"}


def _is_python_rdd(rdd: dict) -> bool:
    scope = json.loads(rdd.get("Scope") or "{}")
    return rdd.get("Name") == "PythonRDD" or scope.get("name") in PYTHON_SCOPES


def _is_cached(rdd: dict) -> bool:
    level = rdd.get("Storage Level") or {}
    return bool(level.get("Use Memory") or level.get("Use Disk"))


def _runs_python(stage_info: dict, materialized: set[int]) -> bool:
    """Walk the stage's RDD graph from its sinks toward its sources,
    stopping at cached RDDs that an earlier stage materialized."""
    rdds = {r["RDD ID"]: r for r in stage_info.get("RDD Info", [])}
    parents = {p for r in rdds.values() for p in r.get("Parent IDs", [])}
    todo, seen = [i for i in rdds if i not in parents], set()
    while todo:
        i = todo.pop()
        if i in seen or i not in rdds:
            continue
        seen.add(i)
        if i in materialized:
            continue
        if _is_python_rdd(rdds[i]):
            return True
        todo.extend(rdds[i].get("Parent IDs", []))
    return False


def count_by_group(log_dir: str) -> dict[str, dict]:
    """job group -> {jobs, stages, tasks, python_tasks}, from every event
    log file under log_dir (Spark 4 writes a rolling log directory)."""
    jobs: dict[str, set] = defaultdict(set)
    python_stages: set[int] = set()
    materialized: set[int] = set()  # ids of cached RDDs already computed
    stages: dict[str, set] = defaultdict(set)
    tasks: dict[int, int] = defaultdict(int)
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if kind == "SparkListenerJobStart" and group:
                    jobs[group].add(ev["Job ID"])
                elif kind == "SparkListenerStageSubmitted" and group:
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    stages[group].add((sid, info["Stage Attempt ID"]))
                    if _runs_python(info, materialized):
                        python_stages.add(sid)
                elif kind == "SparkListenerStageCompleted":
                    rdds = ev["Stage Info"].get("RDD Info", [])
                    materialized.update(r["RDD ID"] for r in rdds if _is_cached(r))
                elif kind == "SparkListenerTaskEnd":
                    tasks[ev["Stage ID"]] += 1
    out: dict[str, dict] = {}
    for group in jobs:
        sids = {sid for sid, _ in stages[group]}
        out[group] = {
            "jobs": len(jobs[group]),
            "stages": len(stages[group]),
            "tasks": sum(tasks[s] for s in sids),
            "python_tasks": sum(tasks[s] for s in sids if s in python_stages),
        }
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--ops", type=int, default=6)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--entities", type=int, default=500)
    args = ap.parse_args(argv)

    # Python workers import the package from this checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from entity_resolution__spark.data.synth import make_transcripts
    from entity_resolution__spark.plans.pipeline import ERConfig, run_pipeline
    from entity_resolution__spark.session import get_spark

    work = tempfile.mkdtemp(prefix="count_python_tasks_")
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    pdf = make_transcripts(seed=args.seed, n_entities=args.entities)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # Spark reads micros
    pdf.to_parquet(os.path.join(work, "transcripts.parquet"), index=False)

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        "count-python-tasks",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        },
    )
    sdf = spark.read.parquet(os.path.join(work, "transcripts.parquet"))
    clusters = []
    for i in range(args.ops):
        spark.sparkContext.setJobGroup(f"op{i}", f"run_pipeline op {i}")
        res = run_pipeline(spark, sdf, ERConfig())
        # the er_batch op: fetch the clusters, then release the caches
        clusters.append(res.clusters.toPandas()["cluster_id"].nunique())
        res.release_transients()
    spark.sparkContext.setJobGroup("", "")
    spark.stop()  # closes the event log

    counts = count_by_group(log_dir)
    shutil.rmtree(work, ignore_errors=True)
    per_op = []
    for i in range(args.ops):
        c = counts.get(f"op{i}", {"jobs": 0, "stages": 0, "tasks": 0, "python_tasks": 0})
        per_op.append({"op": i, "clusters": clusters[i], **c})
        print(
            f"op {i}: jobs {c['jobs']:3d}  stages {c['stages']:3d}  "
            f"tasks {c['tasks']:4d}  python tasks {c['python_tasks']:3d}  "
            f"clusters {clusters[i]}"
        )
    print(json.dumps({"seed": args.seed, "entities": args.entities,
                      "cores": cores, "ops": per_op}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
