"""Record the er_* cluster count of each seed into expected_clusters.json.

    python3 perfbench/record_clusters.py <first_seed> <last_seed>

Runs the store-less pipeline once per seed in one Spark session. The
er_* workloads then require the same count for a recorded seed, so a
change to the clusters shows as a failed output check.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run  # noqa: E402
from perfbench.workloads import ER_ENTITIES, HERE, ERWorkload  # noqa: E402


def main() -> None:
    first, last = int(sys.argv[1]), int(sys.argv[2])
    run._isolate_env()  # noqa: SLF001
    path = os.path.join(HERE, "expected_clusters.json")
    with open(path) as f:
        rec = json.load(f)
    if rec["n_entities"] != ER_ENTITIES:
        rec = {"n_entities": ER_ENTITIES, "clusters_by_seed": {}}
    spark = run._start_spark("record", trace=False)  # noqa: SLF001
    try:
        for seed in range(first, last + 1):
            wl = ERWorkload(seed)
            wl.prepare(os.path.join(run.WORK, f"input-{seed}"))
            wl.load(spark)
            out = wl.op(spark)["output"]
            rec["clusters_by_seed"][str(seed)] = int(out["cluster_id"].nunique())
            print(seed, rec["clusters_by_seed"][str(seed)], flush=True)
    finally:
        run._stop_spark(spark)  # noqa: SLF001
    rec["clusters_by_seed"] = dict(
        sorted(rec["clusters_by_seed"].items(), key=lambda kv: int(kv[0]))
    )
    with open(path, "w") as f:
        json.dump(rec, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
