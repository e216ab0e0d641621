"""Barrier-level breakdown of the candidate_pairs stage (round-6
VERDICT #6): the stage showed eff 0.41 on the cpu-matched 2->8 pair and
BASELINE.md attributes it to fixed barriers. This probe times each
barrier at bench scale and A/Bs the current form against fusions:

  A (current): eager localCheckpoint of the window-sized bucket table,
     then join-union-dropDuplicates under one count.
  B (skip-empty salted branch): after the checkpoint, an isEmpty probe
     on the >salt_threshold slice (reads the materialized checkpoint,
     no recompute) drops the whole triangle-salted union branch from
     the plan when no bucket is hot.
  C (no checkpoint): rely on the persisted upstream blocks stage; the
     four plan branches re-run the window count from cache.

Usage: python tools/probe_pairs_barriers.py [n_entities] [master]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_entities = int(sys.argv[1]) if len(sys.argv) > 1 else 6000
    master = sys.argv[2] if len(sys.argv) > 2 else "local[8]"
    shuffle = int(master.split("[")[1].rstrip("]*"))

    from bench import _bench_transcripts_path, _proc_tree_cpu

    path = _bench_transcripts_path(n_entities)

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from entity_resolution__spark.plans.pipeline import (
        ERConfig,
        build_blocks,
        build_conversations,
    )
    from entity_resolution__spark.session import get_spark

    spark = get_spark("probe-pairs", master=master, shuffle_partitions=shuffle)
    cfg = ERConfig()
    sdf = spark.read.parquet(path)
    conv = build_conversations(sdf, cfg).persist()
    n_docs = conv.count()
    blocks = build_blocks(conv, cfg, n_docs=n_docs).persist()
    n_blocks = blocks.count()
    print(f"n_docs={n_docs} block_rows={n_blocks}", flush=True)

    keyed = blocks.select("block_key", "conv_id")
    w = Window.partitionBy("block_key")

    def timed(tag, fn):
        cpu0 = _proc_tree_cpu()
        t0 = time.monotonic()
        out = fn()
        wall = time.monotonic() - t0
        print(
            f"{tag:28s} wall={wall:7.3f}s cpu={_proc_tree_cpu()-cpu0:8.1f}s",
            flush=True,
        )
        return out

    def build_pairs(sized, include_salted):
        from entity_resolution__spark.operators.saltjoin import (
            capped_salted_self_join,  # noqa: F401 (doc pointer)
        )

        small = sized.filter(F.col("_bsz") <= cfg.salt_threshold).drop("_bsz")
        l, r = small.alias("l"), small.alias("r")
        pairs = (
            l.join(r, ["block_key"])
            .filter(F.col("l.conv_id") < F.col("r.conv_id"))
            .select(
                F.col("l.conv_id").alias("id_left"),
                F.col("r.conv_id").alias("id_right"),
                "block_key",
            )
        )
        if include_salted:
            big = sized.filter(F.col("_bsz") > cfg.salt_threshold).drop("_bsz")
            salted = big.withColumn(
                "_salt", F.pmod(F.xxhash64("conv_id"), F.lit(cfg.n_salts))
            )
            sp = (
                spark.range(cfg.n_salts)
                .select(F.col("id").alias("_si"))
                .crossJoin(spark.range(cfg.n_salts).select(F.col("id").alias("_sj")))
                .filter(F.col("_si") <= F.col("_sj"))
            )
            lhs = salted.join(F.broadcast(sp), salted["_salt"] == F.col("_si"))
            rhs = salted.join(F.broadcast(sp), salted["_salt"] == F.col("_sj")).select(
                F.col("block_key").alias("_r_block_key"),
                F.col("conv_id").alias("_r_id"),
                F.col("_si").alias("_r_si"),
                F.col("_sj").alias("_r_sj"),
            )
            cond = (
                (F.col("_si") == F.col("_r_si"))
                & (F.col("_sj") == F.col("_r_sj"))
                & (F.col("block_key") == F.col("_r_block_key"))
            )
            pb = (
                lhs.join(rhs, cond)
                .filter(
                    F.when(
                        F.col("_si") == F.col("_sj"),
                        F.col("conv_id") < F.col("_r_id"),
                    ).otherwise(F.col("conv_id") != F.col("_r_id"))
                )
                .select(
                    F.least("conv_id", "_r_id").alias("id_left"),
                    F.greatest("conv_id", "_r_id").alias("id_right"),
                    "block_key",
                )
            )
            pairs = pairs.unionByName(pb)
        return (
            pairs.dropDuplicates(["id_left", "id_right"])
            .select("id_left", "id_right", "block_key")
        )

    def sized_ckpt():
        return (
            keyed.withColumn("_bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("_bsz") <= cfg.max_block)
            .localCheckpoint(eager=True)
        )

    def run_A():
        s = sized_ckpt()
        out = build_pairs(s, include_salted=True)
        return out.count()

    def run_B():
        s = sized_ckpt()
        has_hot = not s.filter(F.col("_bsz") > cfg.salt_threshold).isEmpty()
        out = build_pairs(s, include_salted=has_hot)
        return out.count()

    def run_C():
        s = keyed.withColumn("_bsz", F.count(F.lit(1)).over(w)).filter(
            F.col("_bsz") <= cfg.max_block
        )
        return build_pairs(s, include_salted=True).count()

    variants = {"A cur": run_A, "B gated": run_B, "C nockpt": run_C}
    # warm-up round (codegen, shuffle services), then 3 timed rounds
    for tag, fn in variants.items():
        fn()
    for rep in range(3):
        for tag, fn in variants.items():
            timed(f"rep{rep} {tag}", fn)
    spark.stop()


if __name__ == "__main__":
    main()
