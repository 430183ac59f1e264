"""Tests of the benchmark's own parts: seeded inputs are reproducible and
seed-dependent, and every output check fires on a planted wrong result.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import iiot, inputs, mix  # noqa: E402
from perfbench.oracle import frame_signature  # noqa: E402


# --------------------------------------------------------------------------
# seeded inputs
# --------------------------------------------------------------------------


def test_document_corpus_is_seeded():
    a, b, c = (inputs.document_corpus(s, 300) for s in (1, 1, 2))
    assert a == b
    assert a != c


def test_document_corpus_plants_every_kind():
    docs = inputs.document_corpus(3, 1000)
    texts = [t for _, t in docs]
    assert len(set(texts)) < len(texts)  # exact duplicates
    assert any(t.endswith(" extratoken") for t in texts)  # near-duplicates
    assert sum(len(t.split()) == 5 for t in texts) > 10  # quality-gate stubs
    assert sum(len(t.split()) > 90 for t in texts) > 50  # boilerplate span


def test_mix_fixture_copy_is_intact():
    """The mix reads the engine's sf0.01 fixture unchanged: the copy's
    digests are the ones recorded in its SHA256SUMS."""
    with open(os.path.join(mix.FIXTURE_DIR, "SHA256SUMS")) as f:
        sums = dict(reversed(line.split()) for line in f)
    assert set(sums) == {f"{t}.parquet" for t in mix.FIXTURE_TABLES}
    for name, digest in sums.items():
        with open(os.path.join(mix.FIXTURE_DIR, name), "rb") as f:
            assert hashlib.sha256(f.read()).hexdigest() == digest, name


def test_mix_order_is_seeded_and_balanced():
    a = inputs.mix_order(1, mix.ROUND, 4)
    assert a == inputs.mix_order(1, mix.ROUND, 4)
    assert a != inputs.mix_order(2, mix.ROUND, 4)
    n = len(mix.ROUND)
    assert all(sorted(a[r * n:(r + 1) * n]) == sorted(mix.ROUND) for r in range(4))


@pytest.fixture(scope="module")
def spark():
    from iiot_data_engineering_lab_assignment_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]")
    yield s
    s.stop()


def _drop(spark, tmp_path, seed, name):
    out = str(tmp_path / name)
    truth = inputs.write_iiot_wire_drop(spark, out, seed, 1 / 24, 60)
    lines = []
    for f in sorted(os.listdir(out)):
        if f.startswith("part-"):
            with open(os.path.join(out, f)) as fh:
                lines.extend(fh.read().splitlines())
    return truth, sorted(lines)


def test_iiot_wire_drop_is_seeded(spark, tmp_path):
    t1, l1 = _drop(spark, tmp_path, 1, "a")
    t1b, l1b = _drop(spark, tmp_path, 1, "b")
    t2, l2 = _drop(spark, tmp_path, 2, "c")
    assert (t1, l1) == (t1b, l1b)
    assert l1 != l2
    assert t1["lines"] == len(l1) == 60 * 16
    assert t1["corrupt"] > 0 and t1["decoded"] == t1["lines"] - t1["corrupt"]
    assert sum(t1["per_day"].values()) == t1["decoded"]


# --------------------------------------------------------------------------
# output checks fire on planted wrong results
# --------------------------------------------------------------------------

TRUTH = {"lines": 110, "corrupt": 10, "decoded": 100, "per_day": {"2024-01-07": 60, "2024-01-08": 40}}
GOOD = {
    "published": True,
    "decoded_rows": 100,
    "dlq_rows": 10,
    "lake_rows": 40,
    "rollup_diff_rows": 0,
    "dropped_partitions": 1,
}


def test_iiot_check_passes_on_truth():
    assert iiot.check_iiot(TRUTH, "2024-01-07", GOOD) == []


@pytest.mark.parametrize(
    "field,wrong",
    [
        ("published", False),
        ("decoded_rows", 99),
        ("dlq_rows", 11),
        ("lake_rows", 100),
        ("rollup_diff_rows", 3),
        ("dropped_partitions", 0),
    ],
)
def test_iiot_check_fires(field, wrong):
    assert iiot.check_iiot(TRUTH, "2024-01-07", {**GOOD, field: wrong})


def test_mix_check_fires_on_planted_row(tmp_path):
    wl = mix.AnalyticsMix(str(tmp_path), 1)
    cols = ["k", "v"]
    right = [(1, 0.5), (2, 1.25)]
    wl._oracle["q"] = frame_signature(cols, right)
    assert wl.check_op(None, {"kind": "q", "cols": cols, "rows": list(reversed(right))}) == []
    assert wl.check_op(None, {"kind": "q", "cols": cols, "rows": [(1, 0.5), (2, 1.2501)]})
    assert wl.check_op(None, {"kind": "q", "cols": cols, "rows": right[:1]})
    assert wl.check_op(None, {"kind": "q", "cols": cols, "rows": []})
