"""Self-tests of the benchmark.

    python3 -m pytest perfbench/tests -q

The smoke tests run every workload end to end, untraced and traced
(several minutes on four cores); deselect them with ``-k "not smoke"``.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, lanes, run, search  # noqa: E402
from perfbench.common import Op  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


@pytest.fixture(scope="module")
def search_data(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("search"))
    datagen.write_tables(datagen.make_tables(5, 0.001), d)
    return search.Oracle(d)


def test_tables_depend_only_on_seed():
    a, b = datagen.make_tables(3, 0.001), datagen.make_tables(3, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    c = datagen.make_tables(4, 0.001)
    assert not a["documents"].equals(c["documents"])
    assert not a["lineitem"].equals(c["lineitem"])


def test_lane_order_depends_only_on_seed():
    assert lanes.pass_order(1, 0) == lanes.pass_order(1, 0)
    assert sorted(lanes.pass_order(1, 0)) == sorted(lanes.ROSTER)
    assert lanes.pass_order(1, 0) != lanes.pass_order(2, 0)


def test_query_stream_depends_only_on_seed(search_data):
    pools = search._query_pools(7, search_data)
    assert pools == search._query_pools(7, search_data)
    assert pools != search._query_pools(8, search_data)
    s = search.stream(7, 50)
    assert s == search.stream(7, 50)
    assert s != search.stream(8, 50)
    # every seed sends the same mix; one cycle routes and declines on
    # both front-ends
    assert [x[:2] for x in s] == [x[:2] for x in search.stream(8, 50)]
    one_pass = set(search.SEQUENCE)
    assert {("contains", "route"), ("range", "decline"),
            ("range_sql", "route"), ("contains_sql", "decline"),
            ("ann", "topk")} <= one_pass
    # one read per cycle repeats an earlier read of its cycle; no other
    # read repeats, and none sends a warm-up query
    n = len(search.SEQUENCE)
    for c in range(len(s) // n):
        cycle = [(*search._query_key(a, b), i) for a, b, i in s[c * n:(c + 1) * n]]
        assert len(set(cycle)) == n - 1
    sent = [(*search._query_key(a, b), i)
            for a, b, i in search.stream(7, search.POOL * n)]
    assert len(set(sent)) == len(sent) - search.POOL
    assert all(i != search.WARM for _a, _b, i in s)
    # routing draws sit under the selectivity gate, declining ones over it
    n = len(search_data.doc_ids)
    for term in pools[("contains", "route")]:
        assert len(search_data.postings[term]) / n <= 0.05
    for term in pools[("contains_sql", "decline")]:
        assert len(search_data.postings[term]) / n >= 0.3
    # ANN queries are stored vectors moved by a little noise: the stored
    # vector stays the nearest one
    for vec in pools[("ann", "topk")]:
        assert search_data.cosine(vec).max() > 0.9


def test_write_batches_depend_only_on_seed():
    a, ma = search.make_batch(1, 800)
    b, mb = search.make_batch(1, 800)
    c, mc = search.make_batch(2, 800)
    assert (a, ma) == (b, mb)
    assert a["text"] != c["text"] and ma != mc
    assert sum(ma in t.split() for t in a["text"]) == search.MARKED
    assert a["doc_id"] == list(range(800, 800 + search.BATCH))


def test_cpu_per_op_is_per_pass_wherever_the_run_stops():
    # a costly and a cheap kind; the run stops after the costly one of
    # its third pass, and the cheap kind once failed its check
    ops = [Op("a", 1.0, True, 1.0), Op("b", 0.1, True, 0.1)] * 2
    ops += [Op("b", 0.1, False, 9.0), Op("a", 1.0, True, 1.0)]
    assert run.cpu_ms_per_op(ops) == pytest.approx(550.0)


def test_spec_names_units_and_bounds():
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    metrics = SPEC["end_to_end"] + SPEC["per_layer"]
    names = [m["name"] for m in metrics] + [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    assert all(name.match(n) for n in names)
    assert all(unit.match(m["unit"]) for m in metrics)
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_trace_spans_nest_and_self_time_is_non_negative():
    t = Tracer()
    with t.span("op"):
        with t.span("construct"):
            time.sleep(0.01)
        with t.span("exec"):
            time.sleep(0.02)
        time.sleep(0.005)
    by_id = {s.id: s for s in t.spans}
    for s in t.spans:
        assert s.end >= s.start
        if s.parent is not None:
            p = by_id[s.parent]
            assert p.start <= s.start and s.end <= p.end
    self_t = t.self_times()
    assert all(v >= 0 for v in self_t.values())
    op = t.spans[0]
    assert abs(sum(self_t.values()) - (op.end - op.start)) < 1e-6
    assert self_t["op"] >= 0.004


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_every_metric_emitted_and_no_failures(workload):
    r = _run(workload, 0)
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    assert {k: v["unit"] for k, v in r["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(v["value"] > 0 for v in r["metrics"].values())


def test_smoke_traced_run_emits_every_layer_metric():
    r = _run("search", 1)
    assert r["correct"] and r["failed"] == 0
    assert {k: v["unit"] for k, v in r["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["per_layer"]}
    m = {k: v["value"] for k, v in r["metrics"].items()}
    assert 0 < m["route.routed_share"] < 1
    assert m["route.sql_share"] > 0
    assert m["dataset.commit_s"] > 0 and m["construct_s"] > 0
    assert os.path.exists(os.path.join(ROOT, ".perfbench_out",
                                       "trace-search-1.json"))
