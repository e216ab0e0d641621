from __future__ import annotations

import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from entity_resolution__spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("er-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def tiny_transcripts():
    from entity_resolution__spark.data.synth import make_transcripts

    return make_transcripts(seed=42, n_entities=40)


@pytest.fixture(scope="session")
def tiny_transcripts_sdf(spark, tiny_transcripts):
    from entity_resolution__spark.schema import TRANSCRIPTS

    return spark.createDataFrame(tiny_transcripts, schema=TRANSCRIPTS)


@pytest.fixture(scope="session")
def kernel_pairs():
    """String pairs for kernel parity: the C tier's certification battery
    plus long random pairs and mutation near-misses."""
    from entity_resolution__spark.functions.strings import _parity_battery

    rng = random.Random(0xC0FFEE)
    alpha = "abcdefghijklmnopqrstuvwxyz 0123456789éüßшź日本語'-"

    def rs(maxlen: int) -> str:
        return "".join(rng.choice(alpha) for _ in range(rng.randrange(maxlen + 1)))

    pairs = list(_parity_battery())
    pairs += [(rs(300), rs(300)) for _ in range(300)]
    for _ in range(300):  # mutation near-misses hit the match/boost branches
        s = rs(200)
        t = list(s)
        for _i in range(rng.randrange(6)):
            if not t:
                break
            op, p = rng.randrange(3), rng.randrange(len(t))
            if op == 0:
                t[p] = rng.choice(alpha)
            elif op == 1:
                del t[p]
            else:
                t.insert(p, rng.choice(alpha))
        pairs.append((s, "".join(t)))
    return pairs
