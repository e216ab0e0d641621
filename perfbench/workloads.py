"""The benchmark's workloads: inputs, one operation, output checks.

Each workload object is driven by run.py in this order:
  prepare(work_dir)     generate the seeded inputs on disk (not timed)
  load(spark)           read them into the session (part of set-up)
  op(spark, tracer)     one operation; the first call is the cold op, the
                        next `warmup_ops` calls are untimed
  check(out)            per-op output check, outside the timed region
  final_check(spark, outputs)  checks that need extra work, run once at the end
An op returns a dict with the "output" the checks read. er_checkpointed
also has resume(), which run.py times as resume_s after each op.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))

# ER input size: make_transcripts(seed, 500) is 8,494 turns and 1,172
# conversations at seed 42. Sized so a fresh JVM, the cold op and a timed
# op fit the per-run time budget (see BENCHMARK.json).
ER_ENTITIES = 500
# make_chain_edges at a fifth of its defaults: 2,000 chains of 100 edges
# plus 10 chains of 1,000 edges = 210,000 edges, 2,010 components
CC_SHAPE = {"n_chains": 2000, "chain_len": 100, "n_long": 10, "long_len": 1000}


def pair_f1(clusters: pd.DataFrame, truth: pd.DataFrame) -> float:
    """Pairwise F1 of predicted clusters against the latent families over
    ALL conversation pairs, from the contingency table (O(n))."""
    m = clusters[["conv_id", "cluster_id"]].merge(truth, on="conv_id")

    def pairs(counts: pd.Series) -> float:
        c = counts.to_numpy(dtype=np.float64)
        return float((c * (c - 1) / 2).sum())

    tp = pairs(m.groupby(["cluster_id", "entity"]).size())
    pred = pairs(m.groupby("cluster_id").size())
    true = pairs(m.groupby("entity").size())
    if tp == 0:
        return 0.0
    p, r = tp / pred, tp / true
    return 2 * p * r / (p + r)


def _expected_clusters() -> dict[str, int]:
    with open(os.path.join(HERE, "expected_clusters.json")) as f:
        return json.load(f)["clusters_by_seed"]


class ERWorkload:
    """run_pipeline over make_transcripts(seed, ER_ENTITIES) read from parquet."""

    name = "er_batch"
    # The JVM still compiles hot code for several ops after the cold one:
    # in one run op CPU read 18.6, 15.0, 15.4 s for ops 2-4, then
    # 10.5-12.6 s from op 5 on. A fourth warm-up op would add ~5.5 s to
    # every run, more than the benchmark's total time limit leaves.
    warmup_ops = 3

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.last_result = None  # ERResult of the latest op (for the trace)

    def prepare(self, work_dir: str) -> None:
        from entity_resolution__spark.data.synth import make_transcripts, true_clusters

        self.work_dir = work_dir
        pdf = make_transcripts(seed=self.seed, n_entities=ER_ENTITIES)
        self.truth = true_clusters(pdf)
        self.input_rows = len(pdf)
        # Spark reads TIMESTAMP(MICROS), not pandas' nanoseconds; several
        # files so the scan is split across cores like a real input
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        self.input_dir = os.path.join(work_dir, "transcripts")
        os.makedirs(self.input_dir)
        step = -(-len(pdf) // 8)
        for i in range(8):
            pdf.iloc[i * step : (i + 1) * step].to_parquet(
                os.path.join(self.input_dir, f"part-{i}.parquet"), index=False
            )
        self.n_ops = 0

    def load(self, spark) -> None:
        self.sdf = spark.read.parquet(self.input_dir)

    def op(self, spark, tracer=None) -> dict:
        from entity_resolution__spark.plans.pipeline import ERConfig, run_pipeline

        cfg = ERConfig() if tracer is None else tracer.er_config()
        res = run_pipeline(spark, self.sdf, cfg)
        out = res.clusters.toPandas()
        res.release_transients()
        self.last_result = res
        return {"output": out}

    def checkpointed_twin(self) -> ERCheckpointedWorkload:
        """An er_checkpointed workload over this workload's loaded input."""
        twin = ERCheckpointedWorkload(self.seed)
        twin.__dict__.update(self.__dict__)
        return twin

    def check(self, out: pd.DataFrame) -> list[str]:
        errors = []
        ids = out["conv_id"]
        if ids.duplicated().any() or set(ids) != set(self.truth["conv_id"]):
            errors.append(f"{self.name}: conversations not assigned exactly once")
        k = int(out["cluster_id"].nunique())
        want = _expected_clusters().get(str(self.seed))
        if want is not None and k != want:
            errors.append(f"{self.name}: {k} clusters, recorded {want} for seed {self.seed}")
        # reported, not gated: BASELINE's F1 >= 0.99 gate is defined on
        # labeled pairs, and all-pairs F1 is lower on some seeds
        self.n_clusters, self.f1 = k, pair_f1(out, self.truth)
        return errors

    def final_check(self, spark, outputs: list[pd.DataFrame]) -> list[str]:
        return []


class ERCheckpointedWorkload(ERWorkload):
    """The same input through a fresh StageStore per op (the main.py path),
    each op followed by a resume from the committed snapshots."""

    name = "er_checkpointed"

    def _store(self, root: str, tracer):
        from entity_resolution__spark.plans.checkpoint import StageStore

        return StageStore(root) if tracer is None else tracer.timed_store(root)

    def op(self, spark, tracer=None) -> dict:
        from entity_resolution__spark.plans.pipeline import ERConfig, run_pipeline

        cfg = ERConfig() if tracer is None else tracer.er_config()
        self.n_ops += 1
        root = os.path.join(self.work_dir, f"store-{self.n_ops}")
        res = run_pipeline(spark, self.sdf, cfg, store=self._store(root, tracer))
        self.last_result = res
        return {"output": res.clusters.toPandas(), "store_root": root}

    def resume(self, spark, op_out: dict, tracer=None) -> dict:
        """Rerun over the op's store: every stage resumes from its snapshot."""
        from entity_resolution__spark.plans.pipeline import ERConfig, run_pipeline

        t0 = time.monotonic()
        store = self._store(op_out["store_root"], tracer)
        res = run_pipeline(spark, self.sdf, ERConfig(), store=store)
        out = res.clusters.toPandas()
        return {"output": out, "resume_s": time.monotonic() - t0}

    def discard(self, op_out: dict) -> None:
        shutil.rmtree(op_out["store_root"], ignore_errors=True)

    def final_check(self, spark, outputs: list[pd.DataFrame]) -> list[str]:
        """The cold and resumed outputs must equal the store-less
        pipeline's clusters row for row."""
        from entity_resolution__spark.plans.pipeline import ERConfig, run_pipeline

        res = run_pipeline(spark, self.sdf, ERConfig())
        ref = canon_clusters(res.clusters.toPandas())
        res.release_transients()
        bad = sum(not canon_clusters(o).equals(ref) for o in outputs)
        if bad:
            return [f"{self.name}: {bad} of {len(outputs)} outputs differ from er_batch"]
        return []


def canon_clusters(pdf: pd.DataFrame) -> pd.DataFrame:
    """Cluster rows in a fixed order and dtype, for row-for-row equality."""
    cols = ["conv_id", "cluster_id", "cluster_size"]
    return (
        pdf[cols].astype({"cluster_id": "int64", "cluster_size": "int64"})
        .sort_values("conv_id")
        .reset_index(drop=True)
    )


class CCWorkload:
    """connected_components then assign_clusters over make_chain_edges."""

    name = "cc_chains"
    # op CPU read 8.8, 6.9 s for ops 2-3, then 5.5-7.1 s; in ten runs with
    # two warm-up ops the first timed op still read highest in four
    warmup_ops = 3

    def __init__(self, seed: int) -> None:
        self.seed = seed

    def prepare(self, work_dir: str) -> None:
        self.input_rows = CC_SHAPE["n_chains"] * CC_SHAPE["chain_len"] + (
            CC_SHAPE["n_long"] * CC_SHAPE["long_len"]
        )

    def load(self, spark) -> None:
        from pyspark.sql import functions as F

        from entity_resolution__spark.data.synth import make_chain_edges

        edges, n_edges, expected = make_chain_edges(spark, **CC_SHAPE)
        if n_edges != self.input_rows:
            raise ValueError(f"make_chain_edges built {n_edges} edges")
        # the seed flips edge directions, which changes neither the
        # components nor their min-member roots
        flip = (F.xxhash64("src", F.lit(self.seed)) % 2) == 0
        self.edges = edges.select(
            F.when(flip, F.col("dst")).otherwise(F.col("src")).alias("src"),
            F.when(flip, F.col("src")).otherwise(F.col("dst")).alias("dst"),
        ).localCheckpoint(eager=True)
        self.expected = expected
        self.nodes = expected.select("node").localCheckpoint(eager=True)

    def op(self, spark, tracer=None) -> dict:
        from entity_resolution__spark.operators.cluster import (
            assign_clusters,
            connected_components,
        )

        span = tracer.span if tracer is not None else _no_span
        with span(spark, "connected_components"):
            cc = connected_components(self.edges)
        with span(spark, "assign_clusters"):
            clusters = assign_clusters(cc.assignments, self.nodes).toPandas()
        self.iterations = cc.iterations
        return {"output": (cc, clusters)}

    def check(self, out) -> list[str]:
        cc, clusters = out
        if not hasattr(self, "want"):
            self.want = self.expected.toPandas().set_index("node")["root"]
        got = cc.assignments.toPandas().set_index("node")["root"]
        errors = []
        if not got.sort_index().equals(self.want.sort_index()):
            errors.append("cc_chains: roots differ from make_chain_edges' expected roots")
        n_components = CC_SHAPE["n_chains"] + CC_SHAPE["n_long"]
        if (
            clusters["conv_id"].duplicated().any()
            or len(clusters) != len(self.want)
            or clusters["cluster_id"].nunique() != n_components
        ):
            errors.append(f"cc_chains: clusters are not the {n_components} chains")
        return errors

    def final_check(self, spark, outputs) -> list[str]:
        return []


class QueriesWorkload:
    """The 17 headline queries of bench.HEADLINE over seeded tables
    (perfbench/tables.py). One op is one sweep of all 17. The first,
    cold sweep collects each result for the oracle check; every later
    sweep writes each result to the noop sink."""

    name = "queries"
    warmup_ops = 1
    HEADLINE = [
        "pricing_summary", "top_revenue", "window_order_rank", "events_hourly",
        "tokenize_stats", "exact_dedup", "minhash_signature",
        "ngram_neardup_pairs", "lang_quality", "embedding_topk", "knn_join",
        "simhash", "cc_clusters", "cohort_clusters", "quality_gate",
        "contamination", "kmv_distinct",
    ]

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.swept = False

    def prepare(self, work_dir: str) -> None:
        """Write the tables and run each query's DuckDB oracle_sql() on
        them, before Spark starts."""
        import duckdb

        import __spark_entry__ as entry
        from perfbench.tables import write_tables
        from tools.check_oracle import value_hash

        self.table_dir = os.path.join(work_dir, "tables")
        self.input_rows = write_tables(self.seed, self.table_dir)
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in os.listdir(self.table_dir):
                path = os.path.join(self.table_dir, t)
                con.execute(f"create view {t[:-8]} as select * from '{path}'")
            # MATERIALIZED evaluates the near-dup edge CTE once instead of
            # once per recursion step of the transitive-closure oracles
            # (same rows, ~10x faster)
            self.want = {
                name: _result_key(
                    con.execute(
                        oracles[name].replace("edges AS (", "edges AS MATERIALIZED (")
                    ).fetchdf(),
                    value_hash,
                )
                for name in self.HEADLINE
            }
        finally:
            con.close()

    def load(self, spark) -> None:
        import __spark_entry__ as entry

        self.entry = entry
        self.queries = entry.queries()

    def op(self, spark, tracer=None) -> dict:
        # the near-dup pair table is shared by three queries and cached
        # per session; clear it so every sweep does the same work
        self.entry._NEARDUP_CACHE.clear()  # noqa: SLF001
        span = tracer.span if tracer is not None else _no_span
        collect = not self.swept
        self.swept = True
        got = {}
        for name in self.HEADLINE:
            with span(spark, f"query.{name}"):
                df = self.queries[name](spark, self.table_dir)
                if collect:
                    got[name] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
        return {"output": got}

    def check(self, got: dict) -> list[str]:
        from tools.check_oracle import value_hash

        return [
            f"queries: {name} differs from its DuckDB oracle"
            for name, pdf in got.items()
            if _result_key(pdf, value_hash) != self.want[name]
        ]

    def final_check(self, spark, outputs) -> list[str]:
        return []


def _result_key(pdf: pd.DataFrame, value_hash) -> tuple:
    """What the oracle check compares: columns, row count, value hash."""
    return sorted(map(str.lower, pdf.columns)), len(pdf), value_hash(pdf)


def _no_span(spark, name):
    return contextlib.nullcontext()


WORKLOADS = {
    w.name: w
    for w in (ERWorkload, ERCheckpointedWorkload, CCWorkload, QueriesWorkload)
}
