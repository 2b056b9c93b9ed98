"""Tests of the benchmark's own logic: metric names, the tail rule, the
output checker and the seeded generator. Run: python3 -m pytest perfbench/tests"""
import hashlib
import json
import os
import re
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def bench_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_well_formed():
    names = [n for n, _ in run.END_TO_END] + [n for n, _ in run.per_layer_names()]
    b = bench_json()
    names += [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(set(n for n, _ in run.per_layer_names())) == len(run.per_layer_names())


def test_benchmark_json_matches_what_the_run_prints():
    b = bench_json()
    assert [m["name"] for m in b["end_to_end"]] == list(run.RESULT_E2E)
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == run.per_layer_names()
    assert [w["name"] for w in b["workloads"]] == list(gen.WORKLOADS)


@pytest.mark.parametrize("n", [1, 19, 20, 39, 40, 99, 100, 199, 200, 999, 1000, 10000, 12345])
def test_tail_is_highest_ladder_percentile_with_ten_beyond(n):
    p = run.tail_percentile(n)
    if n < 20:
        assert p is None
        return
    assert run.beyond(n, p) >= 10
    assert all(run.beyond(n, q) < 10 for q in workloads.LADDER if q > p)
    lat = list(range(n, 0, -1))
    assert sum(x > run.nearest_rank(lat, p) for x in lat) == run.beyond(n, p)


def test_checker_flags_perturbed_hash_rows_and_errors():
    var = {"a": {"op": "x"}, "b": {"op": "y", "ref": "a"}}
    refs = {"a": [3, 12345]}
    good = [{"v": "a", "rows": 3, "hash": 12345}, {"v": "b", "rows": 3, "hash": 12345}]
    assert run.check(good, var, refs) == []
    bad_hash = [dict(good[0], hash=12346), good[1]]
    assert [f["v"] for f in run.check(bad_hash, var, refs)] == ["a"]
    bad_rows = [good[0], dict(good[1], rows=4)]
    assert [f["v"] for f in run.check(bad_rows, var, refs)] == ["b"]
    assert len(run.check([{"v": "a", "err": "boom"}], var, refs)) == 1


def traced_pair_records(base, overhead, warmup):
    """Two cycles over the same variants, traced positions alternating as
    the engine side runs them; the second cycle is `warmup` times faster."""
    recs = []
    for cycle in (0, 1):
        for pos, t in enumerate(base):
            traced = (pos + cycle) % 2 == 0
            recs.append({"cycle": cycle, "pos": pos, "v": f"v{pos}", "traced": traced,
                         "t": t * (overhead if traced else 1.0) / (warmup if cycle else 1.0)})
    return recs


def test_overhead_pairs_the_same_operation_and_cancels_warmup():
    base = [1.0, 3.0, 0.5, 2.0]
    assert run.overhead_pct(traced_pair_records(base, 1.0, 1.6)) == pytest.approx(0.0, abs=1e-9)
    assert run.overhead_pct(traced_pair_records(base, 1.1, 1.6)) == pytest.approx(10.0)
    # a position whose variant differs between the cycles is not paired
    recs = traced_pair_records(base, 1.1, 1.0)
    recs[0]["v"] = "other"
    assert run.overhead_pct(recs) == pytest.approx(10.0)


def test_fingerprint_is_the_documented_row_hash(tmp_path):
    rows = [("u1", 5, None), ("u2", -7, 3)]
    pq.write_table(pa.table({"name": [r[0] for r in rows], "b": [r[1] for r in rows],
                             "a": pa.array([r[2] for r in rows], pa.int32())}),
                   tmp_path / "t.parquet")
    con = duckdb.connect()
    got = workloads.fingerprint(con, f"SELECT * FROM '{tmp_path}/t.parquet'")
    # columns in name order (a, b, name), NULL as \N
    want = sum(int(hashlib.md5("|".join("\\N" if v is None else str(v) for v in (a, b, name))
                               .encode()).hexdigest()[:8], 16) for name, b, a in rows)
    assert got == [2, want]


SMALL = {
    "graph_motif": {"clusters": 3, "sources": 200, "targets": 300},
    "align_rw": {"sparse_seqs": 50, "dense_blocks": 100, "queries": 20, "points": 50},
}


def file_fingerprints(d, workload, seed):
    gen.generate(workload, seed, str(d), SMALL[workload])
    con = duckdb.connect()
    return {f: workloads.fingerprint(con, f"SELECT * FROM '{d}/{f}'")
            for f in sorted(os.listdir(d)) if f.endswith(".parquet")}


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    a = file_fingerprints(tmp_path / "a", workload, 11)
    b = file_fingerprints(tmp_path / "b", workload, 11)
    c = file_fingerprints(tmp_path / "c", workload, 12)
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_design_record_matches_the_code():
    with open(os.path.join(HERE, "design.json")) as f:
        d = json.load(f)
    assert set(d["workloads"]) == set(gen.WORKLOADS)
    e2e = {n for n, _ in run.END_TO_END}
    layer = [n for n, _ in run.per_layer_names()]
    for row in d["layer_to_end_to_end"]:
        assert set(row["moves"]) <= e2e
        assert set(row["on"]) | set(row.get("not_on", [])) <= set(gen.WORKLOADS)
        for pat in row["layer"]:
            assert any(re.fullmatch(re.escape(pat).replace(r"\*", ".+"), n) for n in layer), pat
