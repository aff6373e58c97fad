"""Determinism of the benchmark's input generator.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

SF = 0.002


def test_same_seed_same_inputs(tmp_path):
    a = gen.generate(7, SF, str(tmp_path / "a"))
    b = gen.generate(7, SF, str(tmp_path / "b"))
    assert a == b
    for name in a:
        with open(tmp_path / "a" / f"{name}.parquet", "rb") as fa, open(
            tmp_path / "b" / f"{name}.parquet", "rb"
        ) as fb:
            assert fa.read() == fb.read(), name


def test_different_seed_different_row_counts(tmp_path):
    a = gen.generate(7, SF, str(tmp_path / "a"))
    b = gen.generate(8, SF, str(tmp_path / "b"))
    assert {n: r["rows"] for n, r in a.items()} != {n: r["rows"] for n, r in b.items()}


def test_writes_only_under_out(tmp_path):
    out = tmp_path / "data"
    report = gen.generate(1, SF, str(out))
    assert sorted(os.listdir(out)) == sorted(f"{n}.parquet" for n in report)
    assert sorted(os.listdir(tmp_path)) == ["data"]
    assert report["lineitem"]["rows"] > 0 and report["region"]["rows"] == 5
