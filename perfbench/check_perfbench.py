"""Tests of the workload benchmark itself:

    python3 -m pytest perfbench/check_perfbench.py -q

The file name keeps a bare ``pytest`` from the repository root from
collecting it: its smoke runs start their own JVMs, which must not run
beside the suite's session JVM.

The seed alone fixes a workload's inputs, and every workload completes
a short smoke run at sf0.001 row counts with all outputs matching their
DuckDB twins.
"""

from __future__ import annotations

import itertools
import json
import os
import subprocess
import sys

import pytest

from perfbench import datagen
from perfbench.workloads import WORKLOADS, corpus_size, night_split, request_sequence

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _requests(seed, n=200):
    return list(itertools.islice(request_sequence(seed), n))


def test_same_seed_same_request_sequence():
    assert _requests(7) == _requests(7)


def test_different_seed_different_request_sequence():
    assert _requests(7) != _requests(8)


def _post_corpus_ids(scale):
    n = datagen.SCALES[scale]["documents"]
    return list(range(corpus_size(n), n))


def test_same_seed_same_night_split():
    ids = _post_corpus_ids("nightly")
    assert night_split(3, ids) == night_split(3, ids)


def test_different_seed_different_night_split():
    ids = _post_corpus_ids("nightly")
    assert night_split(3, ids) != night_split(4, ids)


def test_nightly_sizes_follow_the_reference():
    n = datagen.SCALES["nightly"]["documents"]
    assert corpus_size(n) == datagen.REFERENCE_DOCS
    nights = night_split(5, _post_corpus_ids("nightly"))
    assert [len(x) for x in nights] == [datagen.NIGHT_DOCS] * datagen.N_NIGHTS


@pytest.mark.parametrize("scale", ["nightly", "tiny"])
def test_night_split_is_a_partition(scale):
    ids = _post_corpus_ids(scale)
    nights = night_split(5, ids)
    assert sorted(i for x in nights for i in x) == ids
    assert len(nights) == datagen.N_NIGHTS
    assert max(map(len, nights)) - min(map(len, nights)) <= 1


def test_generated_tables_are_deterministic(tmp_path):
    import pyarrow.parquet as pq

    a = datagen.generate(str(tmp_path / "a"), "tiny")
    b = datagen.generate(str(tmp_path / "b"), "tiny")
    for t in ("documents", "embeddings", "orders", "lineitem"):
        assert pq.read_table(f"{a}/{t}.parquet").equals(pq.read_table(f"{b}/{t}.parquet"))


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_run(workload):
    proc = subprocess.run(
        [
            sys.executable,
            "perfbench/run.py",
            "--workload",
            workload,
            "--seed",
            "11",
            "--seconds",
            "2",
            "--trace",
            "0",
            "--smoke",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, proc.stderr[-4000:]
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == {"setup_s", "latency_p50_s", "items_per_s", "rss_peak_mb"}
