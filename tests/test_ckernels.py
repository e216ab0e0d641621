"""Tests for the compiled-C kernel tier (functions/ckernels.py).

The pure-python kernels are the oracle; the C tier must match them
BITWISE on the curated battery plus a randomized corpus. The parity
tests skip when the environment cannot compile (no gcc) — load()
returning None is itself the guard that the C tier can never serve
uncertified — and every path on which load() returns None must warn.
"""

from __future__ import annotations

import subprocess

import numpy as np
import pytest

from entity_resolution__spark.functions import ckernels
from entity_resolution__spark.functions import strings as K

_CK = K._CK

needs_ck = pytest.mark.skipif(
    _CK is None, reason="C kernels unavailable (no compiler or probe failed)"
)


@needs_ck
def test_jw_batch_bitwise_parity(kernel_pairs):
    av = np.array([a for a, _ in kernel_pairs], dtype=object)
    bv = np.array([b for _, b in kernel_pairs], dtype=object)
    got = _CK.jw_batch(av, bv)
    for i, (a, b) in enumerate(kernel_pairs):
        assert got[i] == K.jaro_winkler(a, b), (a, b)


@needs_ck
def test_lcs_batch_parity(kernel_pairs):
    av = np.array([a for a, _ in kernel_pairs], dtype=object)
    bv = np.array([b for _, b in kernel_pairs], dtype=object)
    got = _CK.lcs_batch(av, bv)
    for i, (a, b) in enumerate(kernel_pairs):
        assert int(got[i]) == K.lcs_len(a, b), (a, b)


def test_compile_timeout_warns_and_leaves_no_temp_files(tmp_path, monkeypatch):
    def timeout(cmd, **kw):
        raise subprocess.TimeoutExpired(cmd, kw.get("timeout"))

    monkeypatch.setenv("SPARK_GRAFT_CKERNEL_DIR", str(tmp_path))
    monkeypatch.setattr(ckernels.subprocess, "run", timeout)
    with pytest.warns(RuntimeWarning, match="compiler missing or failed"):
        assert ckernels.load() is None
    assert list(tmp_path.iterdir()) == []


@needs_ck
@pytest.mark.parametrize("fault", ["cdll", "mismatch", "probe_raises"])
def test_every_fallback_warns(fault, monkeypatch):
    if fault == "cdll":
        def no_lib(path):
            raise OSError(f"{path}: invalid ELF header")

        monkeypatch.setattr(ckernels.ctypes, "CDLL", no_lib)
        match = "cannot load"
    elif fault == "mismatch":
        monkeypatch.setattr(
            ckernels._CKernels, "jw_batch", lambda self, av, bv: np.zeros(len(av))
        )
        match = r"parity mismatch .* \('', ''\)"
    else:
        def boom(self, av, bv):
            raise MemoryError("lcs_batch: allocation failed")

        monkeypatch.setattr(ckernels._CKernels, "lcs_batch", boom)
        match = "parity probe raised MemoryError"
    with pytest.warns(RuntimeWarning, match=match):
        assert ckernels.load() is None
