"""Self-tests of the benchmark itself (not of the engine):

    python -m pytest perfbench/tests -q

The end-to-end tests start Spark in-process at a tiny scale and take
a few minutes.
"""

from __future__ import annotations

import json
import os
import random

import pyarrow.parquet as pq
import pytest

from perfbench import gen, run, stats, workloads


def _file_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


def test_same_seed_same_ride_csv(tmp_path):
    a, b, c = (str(tmp_path / n) for n in ("a.csv", "b.csv", "c.csv"))
    facts_a = gen.write_ride_csv(a, seed=7, n_rows=2000)
    facts_b = gen.write_ride_csv(b, seed=7, n_rows=2000)
    gen.write_ride_csv(c, seed=8, n_rows=2000)
    with open(a, "rb") as fa, open(b, "rb") as fb, open(c, "rb") as fc:
        da, db, dc = fa.read(), fb.read(), fc.read()
    assert da == db
    assert da != dc
    assert facts_a == facts_b
    assert facts_a["n_station_rows"] == gen.N_STATIONS
    assert facts_a["n_fact_rows"] < facts_a["n_rows"]  # duplicated rides collapse
    assert facts_a["pinned"][0]["distance"] is None  # one ride without an end station


def test_same_seed_same_warehouse(tmp_path):
    gen.write_warehouse(str(tmp_path / "a"), seed=3, scale=0.1)
    gen.write_warehouse(str(tmp_path / "b"), seed=3, scale=0.1)
    gen.write_warehouse(str(tmp_path / "c"), seed=4, scale=0.1)
    a, b, c = (_file_bytes(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert a != c
    docs = pq.read_table(str(tmp_path / "a" / "documents.parquet")).column("text").to_pylist()
    assert len(set(docs)) < len(docs)  # exact duplicates for the dedup queries


def test_same_seed_same_commit_stream():
    def ops(seed):
        s = gen.CommitStream(seed, n_rows=1000, batch=40)
        out = [s.initial()]
        for _ in range(10):
            op = s.next()
            out.append((op.kind, op.rows, None if op.keys is None else op.keys.tolist()))
        return out

    first, again = ops(5), ops(5)
    assert first[0].equals(again[0])
    for x, y in zip(first[1:], again[1:]):
        assert x[0] == y[0] and x[2] == y[2]
        assert (x[1] is None and y[1] is None) or x[1].equals(y[1])
    assert [k for k, _, _ in first[1:]] == ["merge"] * 4 + ["delete"] + ["merge"] * 4 + ["delete"]


def test_warmup_leaves_the_stream_alone():
    plain, warmed = gen.CommitStream(5, n_rows=1000, batch=40), gen.CommitStream(5, n_rows=1000, batch=40)
    kinds = [op.kind for op in warmed.warmup()]
    assert kinds == ["merge", "delete"]
    assert warmed.i == 0  # the window starts on a cycle boundary
    for _ in range(len(gen.CommitStream.KINDS)):
        a, b = plain.next(), warmed.next()
        assert a.kind == b.kind
        assert (a.rows is None and b.rows is None) or a.rows.equals(b.rows)


def test_model_applies_upserts_and_deletes():
    m = gen.OrdersModel()
    s = gen.CommitStream(1, n_rows=100, batch=20)
    m.apply(gen.Op("merge", rows=s.initial()))
    for _ in range(5):
        m.apply(s.next())
    t = m.table()
    assert t.num_rows == len(m.rows)
    assert t.column("o_orderkey").to_pylist() == sorted(m.rows)


@pytest.mark.parametrize("n", [1, 5, 19, 20, 21, 37, 100, 1000])
def test_tail_rule(n):
    values = random.Random(n).sample(range(10 * n), n)
    value, pct, count = stats.tail(values)
    assert count == n
    if n < 2 * stats.TAIL_BEYOND:
        assert (value, pct) == (stats.median(values), 50.0)
        return
    beyond = sum(v > value for v in values)
    assert beyond == stats.TAIL_BEYOND  # at least ten beyond ...
    higher = min(v for v in values if v > value)
    assert sum(v > higher for v in values) < stats.TAIL_BEYOND  # ... and the highest such
    assert pct == pytest.approx(100.0 * (n - stats.TAIL_BEYOND) / n)


@pytest.fixture
def tiny(monkeypatch, tmp_path):
    """Tiny inputs, one set-up, run from an empty directory; restores
    the environment the benchmark pins."""
    monkeypatch.setattr(run, "SETUPS", 1)
    monkeypatch.setattr(workloads, "ETL_ROWS", 500)
    monkeypatch.setattr(workloads, "ORDERS_ROWS", 800)
    monkeypatch.setattr(workloads, "COMMIT_BATCH", 40)
    monkeypatch.setattr(workloads, "WAREHOUSE_SCALE", 0.1)
    monkeypatch.chdir(tmp_path)
    saved = dict(os.environ)
    yield tmp_path
    os.environ.clear()
    os.environ.update(saved)


def _run(capsys, workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    assert run.main(["--workload", workload, "--seed", str(seed), "--seconds", "1", "--trace", str(trace)]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    return json.loads(lines[-2])["meta"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_workload_completes_without_failures(tiny, capsys, workload):
    _, result = _run(capsys, workload, seed=1, trace=0)
    assert result["attempted"] >= 1
    assert result["failed"] == 0 and result["correct"]
    assert result["metrics"]["success_rate"]["value"] == 1.0
    with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(result["metrics"]) == {m["name"] for m in spec["end_to_end"]}


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_traced_job_counts_repeat(tiny, capsys, workload):
    dumps = []
    for _ in range(2):
        meta, result = _run(capsys, workload, seed=2, trace=1)
        assert result["failed"] == 0
        with open(meta["trace_dump"]) as f:
            dumps.append(json.load(f))
    with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(result["metrics"]) == {m["name"] for m in spec["per_layer"]}

    def calls(spans):
        out: dict[str, list] = {}
        for s in spans:
            out.setdefault(s["name"], []).append((s["jobs"], s["stages"]))
        return out

    a, b = calls(dumps[0]), calls(dumps[1])
    assert set(a) == set(b)
    for name in a:
        n = min(len(a[name]), len(b[name]))
        assert a[name][:n] == b[name][:n], name
