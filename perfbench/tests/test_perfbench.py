"""Tests of the benchmark's own parts: seeded generators, the Appendix A
oracle against ``cli.build_index``, and the metric arithmetic.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import math
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import gen  # noqa: E402
import spec  # noqa: E402
import stats  # noqa: E402
from tracing import metric_map, parse_metric  # noqa: E402

SMALL = {
    "wordline": {"files": 3, "lines": 400},
    "curation": {"n_docs": 200, "n_vecs": 50},
    "tpch": {"replicas": 1},
}


def _files(d):
    return sorted(f for f in os.listdir(d) if f != "meta.json")


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    a, _ = gen.ensure(workload, 7, str(tmp_path / "a"), SMALL[workload])
    b, _ = gen.ensure(workload, 7, str(tmp_path / "b"), SMALL[workload])
    c, _ = gen.ensure(workload, 8, str(tmp_path / "c"), SMALL[workload])
    names = _files(a)
    assert names and names == _files(b) == _files(c)
    assert all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
               for f in names)
    assert not all(filecmp.cmp(os.path.join(a, f), os.path.join(c, f), shallow=False)
                   for f in names)


def test_generator_cache_is_reused(tmp_path):
    _, first = gen.ensure("curation", 3, str(tmp_path), SMALL["curation"])
    _, again = gen.ensure("curation", 3, str(tmp_path), SMALL["curation"])
    assert not first["cached"] and again["cached"]
    assert first["rows"] == again["rows"]


def test_wordline_has_reference_format(tmp_path):
    d, meta = gen.ensure("wordline", 1, str(tmp_path), SMALL["wordline"])
    first = open(os.path.join(d, "file1.txt"), "rb").read()
    assert first.startswith(gen.BOM + b"\r\n")
    assert first.count(b"\r\n") == first.count(b"\n") == SMALL["wordline"]["lines"] + 1
    assert meta["lines"] == 3 * 400 + 1


EDGE_ROWS = [b"\xef\xbb\xbf", b"The", b"", b"   ", b"---", b"don't",
             b"Macbeth.", b"3rd", b"2000", b"hello, " + b"x" * 53, b"the"]


def test_spec_mirror_edge_rows(tmp_path):
    p = tmp_path / "file1.txt"
    p.write_bytes(b"\r\n".join(EDGE_ROWS) + b"\r\n")
    assert list(spec.normalize_file(str(p))) == [
        ("the", 2), ("don", 6), ("macbeth", 7), ("3rd", 8), ("2000", 9),
        ("hello", 10), ("the", 11)]


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from mapreduce_in_pthreads_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=2)
    yield s
    s.stop()


def test_spec_mirror_agrees_with_build_index(spark, tmp_path):
    from mapreduce_in_pthreads_spark.cli import build_index

    d, _ = gen.ensure("wordline", 5, str(tmp_path / "gen"), {"files": 2, "lines": 300})
    edge = tmp_path / "file3.txt"
    edge.write_bytes(b"\r\n".join(EDGE_ROWS) + b"\r\n")
    paths = [os.path.join(d, "file1.txt"), os.path.join(d, "file2.txt"), str(edge)]
    out = tmp_path / "index.txt"
    with open(out, "w", encoding="latin-1") as fh:
        for row in build_index(spark, paths).collect():
            fh.write(f"{row.word}: {row.occurrences}\n")
    want = spec.spec_index(paths)
    assert spec.index_diff(spec.parse_index_output(str(out)), want) == []
    assert ("file3.txt", 2) in want["the"]  # line 1 is the BOM line


def test_geomean_and_quartiles():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([2.0, 2.0, 2.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    q = statistics.quantiles(xs, n=4)
    assert stats.quartiles(xs) == (q[0], q[2])
    assert stats.quartiles([7.0]) == (7.0, 7.0)


def test_core_util():
    assert stats.core_util(task_s=8.0, exec_s=2.0, cores=4) == 1.0
    assert stats.core_util(task_s=1.0, exec_s=2.0, cores=4) == 0.125


def test_task_skew():
    stages = [
        {"tasks": 4, "task_s": 8.0, "med_task_s": 1.0, "max_task_s": 5.0},
        # a single-task stage and a tiny stage never count
        {"tasks": 1, "task_s": 3.0, "med_task_s": 3.0, "max_task_s": 30.0},
        {"tasks": 8, "task_s": 0.05, "med_task_s": 0.001, "max_task_s": 0.04},
        {"tasks": 2, "task_s": 4.0, "med_task_s": 2.0, "max_task_s": 3.0},
    ]
    assert stats.task_skew(stages) == 5.0
    assert stats.task_skew(stages[1:2]) == 1.0
    assert stats.task_skew([]) == 1.0


def test_self_times():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 3, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps span 1
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # runs past its parent
    ]
    got = stats.self_times(spans)
    assert got[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert got[1] == pytest.approx(2.0)
    assert got[2] == pytest.approx(1.0)
    assert math.isclose(got[4], 3.0)


def test_sql_metric_parsing():
    assert parse_metric("600,000") == 600000
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "12.0 MiB (1.0 MiB, 3.0 MiB, 4.0 MiB (stage 1.0: task 3))") \
        == 12 * 2 ** 20
    assert parse_metric("0.0 B") == 0.0
    text = ("Map(12 -> 1,024, 7 -> total (min, med, max (stageId: taskId))\n"
            "2.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB (stage 2.0: task 9)), 30 -> 5)")
    m = metric_map(text)
    assert sorted(m) == [7, 12, 30]
    assert parse_metric(m[12]) == 1024 and parse_metric(m[7]) == 2048
    assert parse_metric(m[30]) == 5


def test_union_length():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([(0, 10), (2, 3)]) == 10
    assert stats.union_length([(0, 10)], 2, 5) == 3
    assert stats.union_length([]) == 0
