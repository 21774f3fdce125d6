"""The benchmark's own tests (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import sys

import duckdb
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.checks import Checker, compare  # noqa: E402
from perfbench.layers import UNITS  # noqa: E402
from perfbench.run import E2E_RESULT, e2e_metrics, tail  # noqa: E402
from perfbench.trace import Span, parse_sql_metric, self_times  # noqa: E402


def _files(root):
    return sorted(
        os.path.relpath(os.path.join(d, n), root)
        for d, _, names in os.walk(root) for n in names
    )


@pytest.mark.parametrize(
    "workload,kw",
    [
        ("corpus-dedup", {"corpus_docs": 300}),
        ("text-score-x10", {"text_base_docs": 50, "text_factor": 3}),
        ("etl-star", {"n_slices": 3}),
    ],
)
def test_generator_is_deterministic_per_seed(tmp_path, workload, kw):
    a = gen.generate(str(tmp_path / "a"), 7, workload, **kw)
    b = gen.generate(str(tmp_path / "b"), 7, workload, **kw)
    c = gen.generate(str(tmp_path / "c"), 8, workload, **kw)
    assert a == b
    files = _files(tmp_path / "a")
    assert files == _files(tmp_path / "b") == _files(tmp_path / "c")
    _, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", files, shallow=False)
    assert not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(tmp_path / "a", tmp_path / "c", files, shallow=False)
    assert differ, "another seed must give other inputs"


def test_slices_carry_redeliveries_and_rejects(tmp_path):
    gen.generate(str(tmp_path), 3, "etl-star", n_slices=3)
    con = duckdb.connect()
    s = str(tmp_path / "etl_slices")
    nulls = con.execute(
        f"SELECT count(*) FROM '{s}/*.parquet' WHERE user_id IS NULL OR event_type IS NULL"
    ).fetchone()[0]
    dups = con.execute(
        f"SELECT count(*) - count(DISTINCT event_id) FROM '{s}/*.parquet'"
    ).fetchone()[0]
    assert nulls > 0 and dups > 0


def _write_dir(con, path, sql):
    os.makedirs(path)
    con.execute(f"COPY ({sql}) TO '{path}/part-0.parquet' (FORMAT PARQUET)")


def test_perturbed_output_fails_its_check(tmp_path):
    data = tmp_path / "data"
    data.mkdir()
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT range AS k, range * 1.5 AS v FROM range(100)) "
        f"TO '{data}/t.parquet' (FORMAT PARQUET)"
    )
    chk = Checker(str(data))
    oracle = "SELECT k, v FROM t"
    good, bad, short = (str(tmp_path / n) for n in ("good", "bad", "short"))
    # same rows in another order: order-insensitive, passes
    _write_dir(con, good, f"SELECT * FROM '{data}/t.parquet' ORDER BY k DESC")
    _write_dir(con, bad, f"SELECT k, CASE WHEN k = 42 THEN v + 1 ELSE v END AS v "
                         f"FROM '{data}/t.parquet'")
    _write_dir(con, short, f"SELECT * FROM '{data}/t.parquet' WHERE k > 0")
    want = chk.fingerprint_sql(oracle)
    assert compare(chk.fingerprint_dir(good), want) is None
    assert compare(chk.fingerprint_dir(bad), want) == "value hash mismatch"
    assert compare(chk.fingerprint_dir(short), want).startswith("rows 99 != 100")
    assert chk.dir_reuses == 0
    # a byte-identical copy of an output reuses its fingerprint; a copy
    # with one byte changed is read and fingerprinted again
    shutil.copytree(bad, tmp_path / "bad2")
    assert compare(chk.fingerprint_dir(str(tmp_path / "bad2")), want) == "value hash mismatch"
    assert chk.dir_reuses == 1
    shutil.copytree(good, tmp_path / "good2")
    part = tmp_path / "good2" / "part-0.parquet"
    raw = bytearray(part.read_bytes())
    raw[-5] ^= 0xFF  # footer length: the file no longer parses
    part.write_bytes(bytes(raw))
    with pytest.raises(duckdb.Error):
        chk.fingerprint_dir(str(tmp_path / "good2"))
    assert chk.dir_reuses == 1


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("op", 0.0, 10.0, None, id=0),
        Span("a", 1.0, 3.0, 0, id=1),
        Span("b", 2.0, 5.0, 0, id=2),  # overlaps a: covered 1..5 once
        Span("c", 7.0, 8.0, 0, id=3),
        Span("d", 7.5, 7.75, 3, id=4),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(0.75)
    assert st[4] == pytest.approx(0.25)


def test_sql_metric_strings_parse_to_seconds_bytes_counts():
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n2.7 s (1.3 s, ...)") == 2.7
    assert parse_sql_metric("total (min, med, max)\n915 ms (1 ms, ...)") == pytest.approx(0.915)
    assert parse_sql_metric("total (min, med, max)\n78.5 KiB (39 KiB)") == 78.5 * 1024
    assert parse_sql_metric("10,000") == 10000


def test_window_runs_a_fixed_number_of_passes():
    from types import SimpleNamespace

    from perfbench.run import Bench
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS["corpus-dedup"]
    for seconds, want in ((1, 1), (wl.pass_s, 1), (2 * wl.pass_s, 2), (2.4 * wl.pass_s, 2)):
        bench = Bench(SimpleNamespace(workload=wl.name, seconds=seconds), "unused")
        assert bench.passes() == want


def test_tail_leaves_ten_samples_beyond():
    lat = [float(i) for i in range(1, 41)]
    value, pct, beyond = tail(lat)
    assert beyond == 10 and value == 30.0 and pct == 75.0
    value, pct, beyond = tail([1.0, 2.0, 3.0])
    assert value == 3.0 and beyond == 0


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    recs = [{"latency": 1.0 + i} for i in range(12)]
    e2e = e2e_metrics(recs, 3.0, 2**30)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: e2e[k]["unit"] for k in E2E_RESULT
    }
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == UNITS
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
