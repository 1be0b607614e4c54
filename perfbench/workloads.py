"""The benchmark's three workloads.

Every workload is a closed loop: one client sends its next request when
the previous one has completed. A run executes a fixed, seed-generated
request list (:meth:`Workload.requests`), so table history length is the
same in every run of a workload. Each request belongs to a *shape* and
each shape to a class, ``light`` or ``heavy``; the end-to-end metrics
``light_ms`` and ``heavy_ms`` sum the per-shape median latencies of
their class.

A request's latency runs from send to the last batch received (or the
``do_put`` acknowledgement, or the call's return for in-process calls).
Results are checked after the clock stops.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.flight as flight

import checks
from datagen import rows
from stats import MISS

# Rounds of warm-up requests before the measured pass. The first call of
# a Spark-backed shape costs 2-10x a warm one, and Spark's JIT keeps
# speeding the shapes up for several rounds; after two the rest of that
# slope is small next to host noise.
WARM_ROUNDS = 2


@dataclass(frozen=True)
class Request:
    shape: str
    cls: str  # "light" | "heavy"
    args: tuple = ()


@dataclass
class Outcome:
    request: Request
    ms: float
    ok: bool
    rows: int = 0
    nbytes: int = 0
    error: str = ""
    extra: dict = field(default_factory=dict)


@dataclass
class Env:
    """What every workload shares within one run."""

    spark: object
    work: str  # scratch directory inside the checkout
    fixtures: str  # directory of the generated parquet inputs
    tables: dict  # name -> pa.Table, the same rows as ``fixtures``
    nproc: int
    seed: int


def _drain(reader) -> tuple[pa.Table, float, int]:
    """Read a Flight stream to the end: (table, first batch perf time,
    batches)."""
    batches, first = [], None
    for chunk in reader:
        if first is None:
            first = time.perf_counter()
        if chunk.data is not None:
            batches.append(chunk.data)
    schema = reader.schema
    return pa.Table.from_batches(batches, schema=schema), first or time.perf_counter(), len(batches)


def _ticket(cmd: dict) -> flight.Ticket:
    return flight.Ticket(json.dumps(cmd).encode())


class Workload:
    name = ""
    why = ""
    # request rounds per second of --seconds: fixes the op count of a run
    rounds_per_s = 1.0
    scale = 0.2

    def requests(self, seed: int, seconds: float) -> list[Request]:
        rng = random.Random(f"{self.name}/{seed}")
        # two at least, so a traced run has untraced requests of every
        # shape to compare with
        rounds = max(2, round(self.rounds_per_s * seconds))
        out: list[Request] = []
        for _ in range(rounds):
            out.extend(self.round(rng))
        return out

    def round(self, rng: random.Random) -> list[Request]:
        raise NotImplementedError

    def warm_requests(self, seed: int) -> list[Request]:
        """``WARM_ROUNDS`` rounds from a seed stream of their own."""
        rng = random.Random(f"{self.name}/warm/{seed}")
        return [r for _ in range(WARM_ROUNDS) for r in self.round(rng)]

    def shapes(self) -> dict[str, str]:
        """shape -> class."""
        raise NotImplementedError

    def setup(self, env: Env, tag: str):
        """Everything the program does before serving; timed."""
        raise NotImplementedError

    def prepare_checks(self, st) -> None:
        """Expected results the checks need; run after the timed set-up."""

    def execute(self, st, req: Request, rec=None) -> Outcome:
        raise NotImplementedError

    def finish(self, st) -> tuple[bool, dict]:
        """Checks that need the whole run; returns (ok, report extras)."""
        return True, {}

    def teardown(self, st) -> None:
        pass

    def run_one(self, st, req: Request, rec=None) -> Outcome:
        """Execute one request. An exception or a failed check is a
        failed request, whose latency is a miss."""
        t0 = time.perf_counter()
        try:
            o = self.execute(st, req, rec)
        except Exception as e:  # a failed request is counted, never fatal
            return Outcome(req, MISS, False, error=f"{type(e).__name__}: {e}"[:300],
                           extra={"ms_at_failure": 1000 * (time.perf_counter() - t0)})
        if not o.ok:
            o.extra["ms_at_failure"], o.ms = o.ms, MISS
            o.error = o.error or "result check failed"
        return o


# ---------------------------------------------------------------------- #
# Flight serving
# ---------------------------------------------------------------------- #


class _FlightState:
    """A warehouse, the in-process server over it and one client."""

    def __init__(self, env: Env, wh: str):
        from icerunner_spark.connector import Connector

        self.env = env
        self.connector = Connector(env.spark, wh)
        self.server = None
        self.client = None
        self.pool = None

    def start(self) -> None:
        from icerunner_spark.flight.server import IceFlightServer

        self.server = IceFlightServer(self.connector, host="127.0.0.1", port=0)
        self.client = flight.connect(f"grpc://127.0.0.1:{self.server.port}")
        self.pool = ThreadPoolExecutor(max_workers=self.env.nproc)

    def stop(self) -> None:
        if self.pool is not None:
            self.pool.shutdown(wait=True)
        if self.client is not None:
            self.client.close()
        if self.server is not None:
            self.server.shutdown()
            self.server.wait()

    def snapshot_table(self, name: str) -> pa.Table:
        """Direct pyarrow read of the current snapshot's data files."""
        t = self.connector.table(name)
        snap = t.current_snapshot()
        files = [os.path.join(t.path, f) for f in snap.manifest]
        return pads.dataset(files, format="parquet").to_table()


def _count_transfer(rec, t0: float, first: float, t1: float, tbl: pa.Table, batches: int):
    if rec is not None:
        rec.count("transfer.first_batch_ms", 1000 * (first - t0))
        rec.count("transfer.drain_ms", 1000 * (t1 - first))
        rec.count("transfer.mb", tbl.nbytes / 1e6)
        rec.count("transfer.batches", batches)


def _timed_get(client, ticket: flight.Ticket, rec=None):
    """(table, send time, time of the last batch) for one do_get."""
    t0 = time.perf_counter()
    tbl, first, nb = _drain(client.do_get(ticket))
    t1 = time.perf_counter()
    _count_transfer(rec, t0, first, t1, tbl, nb)
    return tbl, t0, t1


class ServeArrow(Workload):
    name = "serve_arrow"
    why = ("zero-Spark Flight verbs: table metadata, file pruning and Arrow "
           "transfer do all the work; the bypass workload for Spark-side changes")
    rounds_per_s = 5
    scale = 0.2
    n_files = 16
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]

    def shapes(self):
        return {
            "scan_point": "light", "scan_clustered": "light",
            "scan_unclustered": "light", "flight_info": "light",
            "metadata": "light", "list_tables": "light",
            "table_ticket": "heavy", "slices": "heavy",
        }

    def round(self, rng):
        n = rows("orders", self.scale)
        w = max(1, n // 50)
        price_w = (500000.0 - 1000.0) / 50
        out = []
        for _ in range(2):
            out.append(Request("scan_point", "light", (rng.randrange(n),)))
            lo = rng.randrange(n - w)
            out.append(Request("scan_clustered", "light", (lo, lo + w)))
            plo = round(rng.uniform(1000.0, 500000.0 - price_w), 2)
            out.append(Request("scan_unclustered", "light", (plo, round(plo + price_w, 2))))
        out += [
            Request("flight_info", "light"),
            Request("metadata", "light"),
            Request("list_tables", "light"),
            Request("table_ticket", "heavy"),
            Request("slices", "heavy"),
        ]
        rng.shuffle(out)
        return out

    def setup(self, env, tag):
        st = _FlightState(env, os.path.join(env.work, f"wh-{tag}"))
        c = st.connector
        c.create_table("lineitem", env.tables["lineitem"])
        c.create_table("orders", env.tables["orders"])
        rows = env.tables["orders"].num_rows
        c.table("orders").compact(
            target_file_rows=-(-rows // self.n_files), sort_by=["o_orderkey"]
        )
        st.start()
        return st

    def prepare_checks(self, st):
        c, nproc = st.connector, st.env.nproc
        st.expected = {n: st.snapshot_table(n) for n in ("lineitem", "orders")}
        st.snap_id = c.table("orders").current_snapshot().snapshot_id
        # get_slices endpoint i serves manifest files i, i+n, i+2n, ...
        t = c.table("lineitem")
        files = [os.path.join(t.path, f) for f in t.current_snapshot().manifest]
        schema = st.expected["lineitem"].schema
        st.expected_slices = [
            pads.dataset(files[i::nproc], format="parquet", schema=schema).to_table()
            for i in range(nproc)
        ]

    def teardown(self, st):
        st.stop()

    def _where(self, req):
        a = req.args
        if req.shape == "scan_point":
            return [["o_orderkey", "=", a[0]]], pc.field("o_orderkey") == a[0]
        if req.shape == "scan_clustered":
            return ([["o_orderkey", "between", [a[0], a[1]]]],
                    (pc.field("o_orderkey") >= a[0]) & (pc.field("o_orderkey") <= a[1]))
        return ([["o_totalprice", "between", [a[0], a[1]]]],
                (pc.field("o_totalprice") >= a[0]) & (pc.field("o_totalprice") <= a[1]))

    def execute(self, st, req, rec=None):
        client = st.client
        if req.shape.startswith("scan_"):
            where, expr = self._where(req)
            cmd = {"command": "scan", "table": "orders", "where": where, "columns": self.cols}
            tbl, t0, t1 = _timed_get(client, _ticket(cmd), rec)
            exp = st.expected["orders"].filter(expr).select(self.cols)
            return Outcome(req, 1000 * (t1 - t0), checks.same_rows(tbl, exp),
                           tbl.num_rows, tbl.nbytes)
        if req.shape == "table_ticket":
            tbl, t0, t1 = _timed_get(client, flight.Ticket(b"lineitem"), rec)
            return Outcome(req, 1000 * (t1 - t0),
                           checks.same_rows(tbl, st.expected["lineitem"]),
                           tbl.num_rows, tbl.nbytes)
        if req.shape == "slices":
            t0 = time.perf_counter()
            info = client.get_flight_info(flight.FlightDescriptor.for_command(
                json.dumps({"command": "get_slices", "table": "lineitem", "n": st.env.nproc})
            ))
            parts = list(st.pool.map(lambda ep: _drain(client.do_get(ep.ticket)), info.endpoints))
            t1 = time.perf_counter()
            tbl = pa.concat_tables([p[0] for p in parts])
            _count_transfer(rec, t0, min(p[1] for p in parts), t1, tbl,
                            sum(p[2] for p in parts))
            ok = len(parts) == len(st.expected_slices) and all(
                checks.same_rows(p[0], e) for p, e in zip(parts, st.expected_slices))
            return Outcome(req, 1000 * (t1 - t0), ok, tbl.num_rows, tbl.nbytes)
        if req.shape == "flight_info":
            t0 = time.perf_counter()
            info = client.get_flight_info(flight.FlightDescriptor.for_path(b"orders"))
            ms = 1000 * (time.perf_counter() - t0)
            ok = info.total_records == st.expected["orders"].num_rows
            return Outcome(req, ms, ok)
        if req.shape == "metadata":
            tbl, t0, t1 = _timed_get(
                client, _ticket({"command": "get_metadata", "table": "orders"}), rec)
            ok = (tbl.column("snapshot_id")[0].as_py() == st.snap_id
                  and tbl.column("total_rows")[0].as_py() == st.expected["orders"].num_rows)
            return Outcome(req, 1000 * (t1 - t0), ok, tbl.num_rows, tbl.nbytes)
        if req.shape == "list_tables":
            tbl, t0, t1 = _timed_get(client, _ticket({"command": "list_tables"}), rec)
            ok = sorted(tbl.column("table_name").to_pylist()) == ["lineitem", "orders"]
            return Outcome(req, 1000 * (t1 - t0), ok, tbl.num_rows, tbl.nbytes)
        raise ValueError(req.shape)


class IngestMirror(Workload):
    name = "ingest_mirror"
    why = ("do_put commits, merge-on-read deletes and perform_sync passes into a "
           "second warehouse read back through the same server")
    rounds_per_s = 0.4
    scale = 0.2
    # 2000 rather than 5000 rows: the changelog pass after a delete of
    # ~30% of one put costs 0.5 s more with 5000-row puts, once per round
    put_rows = 2000
    puts_per_sync = 2

    def shapes(self):
        return {"put": "light", "delete": "heavy", "sync_append": "heavy",
                "sync_changelog": "heavy"}

    def round(self, rng):
        """One round = two sync groups; the second deletes first, so half
        of all sync passes apply a changelog."""
        n = rows("orders", self.scale)
        out = []
        for group in range(2):
            for _ in range(self.puts_per_sync):
                out.append(Request("put", "light", (rng.randrange(n - self.put_rows),)))
            if group == 1:
                # delete ~30% of the rows of one put of this round
                out.append(Request("delete", "heavy",
                                   (rng.randrange(self.puts_per_sync * 2),
                                    round(rng.uniform(145000.0, 155000.0), 2))))
                out.append(Request("sync_changelog", "heavy"))
            else:
                out.append(Request("sync_append", "heavy"))
        return out

    def setup(self, env, tag):
        from icerunner_spark.connector import Connector
        from icerunner_spark.flight.mirror import SyncState

        st = _FlightState(env, os.path.join(env.work, f"src-{tag}"))
        pool = env.tables["orders"]
        st.connector.create_table("src", pool.slice(0, self.put_rows))
        st.start()
        st.target = Connector(env.spark, os.path.join(env.work, f"dst-{tag}"))
        st.sync_state = SyncState(os.path.join(env.work, f"dst-{tag}"))
        st.url = f"grpc://127.0.0.1:{st.server.port}/src"
        st.next_key = pool.num_rows  # put rows get fresh keys above the pool
        st.puts = []  # (first key, rows) per put
        st.put_bytes = 0
        st.model = [pool.slice(0, self.put_rows)]  # source rows, as expected
        st.deleted = []  # pc expressions applied to the model
        return st

    def teardown(self, st):
        st.stop()

    def _slice(self, st, offset: int) -> pa.Table:
        t = st.env.tables["orders"].slice(offset, self.put_rows)
        keys = pa.array(range(st.next_key, st.next_key + t.num_rows), pa.int64())
        st.next_key += t.num_rows
        return t.set_column(0, "o_orderkey", keys)

    def execute(self, st, req, rec=None):
        from icerunner_spark.flight import mirror

        if req.shape == "put":
            data = self._slice(st, req.args[0])
            t0 = time.perf_counter()
            w, _ = st.client.do_put(
                flight.FlightDescriptor.for_path(b"src"), data.schema)
            w.write_table(data)
            w.close()  # returns once the server has committed the put
            ms = 1000 * (time.perf_counter() - t0)
            st.puts.append((data.column(0)[0].as_py(), data.num_rows))
            st.put_bytes += data.nbytes
            st.model.append(data)
            return Outcome(req, ms, True, data.num_rows, data.nbytes)
        if req.shape == "delete":
            first, n = st.puts[-1 - req.args[0] % len(st.puts)]
            cond = (f"o_orderkey >= {first} AND o_orderkey < {first + n} "
                    f"AND o_totalprice < {req.args[1]}")
            t0 = time.perf_counter()
            st.connector.table("src").delete_where(cond, mode="merge-on-read")
            ms = 1000 * (time.perf_counter() - t0)
            st.deleted.append((pc.field("o_orderkey") >= first)
                              & (pc.field("o_orderkey") < first + n)
                              & (pc.field("o_totalprice") < req.args[1]))
            return Outcome(req, ms, True)
        # a sync pass
        t0 = time.perf_counter()
        moved = mirror.perform_sync(
            st.client, st.url, "src", "dst", st.target, st.sync_state)
        ms = 1000 * (time.perf_counter() - t0)
        return Outcome(req, ms, True, moved)

    def expected_source(self, st) -> pa.Table:
        t = pa.concat_tables(st.model)
        for cond in st.deleted:
            t = t.filter(~cond)
        return t

    def finish(self, st):
        from icerunner_spark.connector import df_to_arrow

        exp = self.expected_source(st)
        src = df_to_arrow(st.connector.table("src").scan())
        dst = df_to_arrow(st.target.table("dst").scan())
        ok_src = checks.same_rows(src, exp)
        ok_dst = checks.same_rows(dst, src)
        t = st.connector.table("src")
        stored = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(t.path) for f in fs
        )
        seed_bytes = st.model[0].nbytes
        return ok_src and ok_dst, {
            "source_matches_model": ok_src,
            "mirror_matches_source": ok_dst,
            "stored_bytes_per_put_byte": stored / (st.put_bytes + seed_bytes),
            "source_rows": src.num_rows,
            "snapshots": len(t.snapshots()),
        }


class CorpusOps(Workload):
    name = "corpus_ops"
    why = ("registry entries in-process with DuckDB oracles: the only workload "
           "that runs queries.py and operators/")
    rounds_per_s = 0.4
    # the entries' cost is fixed per call well below sf0.1
    scale = 0.02
    # A plain SQL entry (queries.py), one built on operators/, one that
    # plans SQL over catalog views through Connector.sql_df, and one
    # commit-heavy entry; a warm call costs 0.3-0.7 s, 1.5-2.5 s for
    # merge_into_clauses. Left out to keep a run short:
    # q3_shipping_priority, window_running_revenue and text_token_stats
    # (more of q1's kind), dedup_minhash_lsh (6 s cold),
    # incremental_bm25_index (5.5 s warm) and incremental_mv_refresh
    # (3.4 s warm).
    read_entries = ("q1_pricing_summary", "neardup_ngram_jaccard",
                    "catalog_view_query")
    commit_entries = ("merge_into_clauses",)

    def shapes(self):
        d = {e: "light" for e in self.read_entries}
        d.update({e: "heavy" for e in self.commit_entries})
        return d

    def round(self, rng):
        out = [Request(e, c) for e, c in self.shapes().items()]
        rng.shuffle(out)
        return out

    def setup(self, env, tag):
        from icerunner_spark import queries

        base = os.path.join(env.work, f"demo-{tag}")

        def demo_warehouse(name: str, sf_dir: str) -> str:
            return os.path.join(base, name, uuid.uuid4().hex)

        # the registry's demo warehouses go under the run's scratch
        # directory instead of /tmp
        queries._demo_warehouse = demo_warehouse
        return SimpleNamespace(
            env=env, base=base, fns=queries.queries(),
            oracles=queries.oracle_sql(), expected={},
        )

    def teardown(self, st):
        shutil.rmtree(st.base, ignore_errors=True)

    def execute(self, st, req, rec=None):
        fn = st.fns[req.shape]
        t0 = time.perf_counter()
        df = fn(st.env.spark, st.env.fixtures)
        got = [r.asDict(recursive=True) for r in df.collect()]
        ms = 1000 * (time.perf_counter() - t0)
        exp = st.expected.get(req.shape)
        if exp is None:
            exp = st.expected[req.shape] = checks.harness().run_oracle_typed(
                st.oracles[req.shape], st.env.fixtures)
        ok, msg = checks.harness().compare_types(df.schema, exp[1])
        if ok:
            ok, msg = checks.harness().compare(got, exp[0])
        return Outcome(req, ms, ok, len(got), error="" if ok else msg)


WORKLOADS = {w.name: w for w in (ServeArrow(), IngestMirror(), CorpusOps())}
