"""The benchmark's own tests. Run from the root of a checkout:

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark (half a minute each); deselect them with
``-k 'not smoke'``.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import stats  # noqa: E402
from spans import Recorder, Span, layer_self_ms, self_times, union_length  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---- percentile rule -------------------------------------------------- #


def test_beyond_counts_samples_above_the_rank():
    assert stats.beyond(100, 90) == 10
    assert stats.beyond(100, 95) == 5
    assert stats.beyond(40, 75) == 10
    assert stats.beyond(1000, 99) == 10


@pytest.mark.parametrize(
    "n,expected_p",
    [(19, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, expected_p):
    t = stats.tail([float(i) for i in range(n)])
    if expected_p is None:
        assert t is None
    else:
        assert t[0] == expected_p
        assert stats.beyond(n, t[0]) >= stats.MIN_BEYOND
        higher = [p for p in stats.TAIL_PERCENTILES if p > t[0]]
        assert all(stats.beyond(n, p) < stats.MIN_BEYOND for p in higher)


def test_failed_requests_count_as_misses():
    ms = [1.0] * 60 + [stats.MISS] * 40
    assert statistics.median(ms) == 1.0
    assert stats.tail(ms) == (90.0, math.inf)
    assert statistics.median([1.0, 2.0, stats.MISS]) == 2.0
    assert statistics.median([1.0, stats.MISS, stats.MISS]) == math.inf


def test_a_failed_check_or_call_is_a_miss():
    from workloads import Outcome, Request, Workload

    class Stub(Workload):
        def execute(self, st, req, rec=None):
            if req.shape == "raises":
                raise RuntimeError("boom")
            return Outcome(req, 5.0, req.shape == "good")

    wl = Stub()
    good, bad, boom = (wl.run_one(None, Request(s, "light"))
                       for s in ("good", "bad", "raises"))
    assert good.ok and good.ms == 5.0
    assert not bad.ok and bad.ms == stats.MISS and bad.error
    assert bad.extra["ms_at_failure"] == 5.0
    assert not boom.ok and boom.ms == stats.MISS and "boom" in boom.error


def test_percentile_is_nearest_rank():
    v = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(v, 50) == 3.0
    assert stats.percentile(v, 100) == 5.0
    assert stats.percentile(v, 1) == 1.0


# ---- self time ---------------------------------------------------------- #


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10
    assert union_length([]) == 0
    assert union_length([(3, 3)]) == 0


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span(0, "client.scan", 0.0, 10.0, None, 0),
        Span(1, "server.do_get", 1.0, 6.0, 0, 0),
        Span(2, "table.current_snapshot", 2.0, 3.0, 1, 0),
        Span(3, "table.prune", 2.5, 4.0, 1, 0),  # overlaps its sibling
        Span(4, "catalog.table", 5.0, 8.0, 1, 0),  # runs past its parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)
    assert st[1] == pytest.approx(5.0 - 2.0 - 1.0)  # [2,4] and [5,6]
    assert st[2] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3.0)
    layers = layer_self_ms(spans)
    assert layers["client"] == pytest.approx(5000.0)
    assert layers["table"] == pytest.approx(2500.0)
    assert sum(layers.values()) == pytest.approx(1000.0 * sum(st.values()))


def test_recorder_parents_cross_thread_spans_to_the_blocked_client_span():
    import threading

    rec = Recorder()

    class Server:
        def handle(self):
            return 1

    class Mirror:
        def sync(self):
            # the "server" answers on another thread while this one waits
            t = threading.Thread(target=Server().handle)
            t.start()
            t.join(timeout=10)
            return t.is_alive()

    rec.wrap(Server, "handle", "server.handle")
    rec.wrap(Mirror, "sync", "mirror.sync")
    root = rec.begin_request(7, "client.op")
    still_running = Mirror().sync()
    rec.end_request(root, "client.op")
    rec.unwrap_all()
    assert not still_running
    assert Server().handle() == 1 and not hasattr(Server.handle, "__wrapped__")
    by_name = {s.name: s for s in rec.spans}
    assert by_name["server.handle"].parent == by_name["mirror.sync"].sid
    assert by_name["mirror.sync"].parent == root
    assert {s.request for s in rec.spans} == {7}


# ---- seed determinism --------------------------------------------------- #


def test_same_seed_same_requests():
    from workloads import WORKLOADS

    for wl in WORKLOADS.values():
        a, b = wl.requests(3, 10), wl.requests(3, 10)
        assert a == b and len(a) > 0
        assert wl.requests(4, 10) != a
        assert {r.shape for r in a} == set(wl.shapes())
        assert {r.shape for r in wl.warm_requests(3)} == set(wl.shapes())


def test_same_seed_same_inputs():
    a, b = datagen.make_tables(5, 0.01), datagen.make_tables(5, 0.01)
    assert set(a) == set(b)
    assert all(a[k].equals(b[k]) for k in a)
    c = datagen.make_tables(6, 0.01)
    assert not a["orders"].equals(c["orders"])


# ---- BENCHMARK.json agrees with the code ---------------------------------- #


def test_benchmark_json_matches_the_code():
    from layers import PER_LAYER
    from run import END_TO_END
    from workloads import WORKLOADS

    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        name: wl.why for name, wl in WORKLOADS.items()}


# ---- smoke: one small run per workload emits every metric ----------------- #


def _in_session(sid: int) -> list[int]:
    """Live processes of session ``sid``."""
    out = []
    for d in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields: state, ppid, pgrp, session, ...
        if fields[0] != "Z" and int(fields[3]) == sid:
            out.append(int(d))
    return out


def _run(workload: str, trace: int) -> tuple[int, list[str]]:
    # a session of its own, so that whatever the run starts can be found;
    # output to a file, since a pipe would also wait for the run's children
    with tempfile.TemporaryFile("w+") as out:
        proc = subprocess.Popen(
            [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
             "--seed", "1", "--seconds", "1", "--trace", str(trace)],
            cwd=ROOT, stdout=out, stderr=subprocess.DEVNULL, start_new_session=True,
        )
        proc.wait(timeout=600)
        assert _in_session(proc.pid) == [], "the run left processes running"
        out.seek(0)
        return proc.returncode, out.read().strip().splitlines()


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _benchmark_json()["workloads"]])
def test_smoke_run_emits_every_metric(workload, trace):
    spec = _benchmark_json()
    code, lines = _run(workload, trace)
    assert code == 0, lines[-3:]
    last = json.loads(lines[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 1
    names = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in last["metrics"].items()} == names
    if not trace:
        assert all(v["value"] > 0 for v in last["metrics"].values())
        report = json.loads(lines[-2])
        assert report["error_rate"] == 0
        assert report["named"]
