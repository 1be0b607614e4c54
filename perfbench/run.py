"""icerunner-spark benchmark: one workload per process.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload serve_arrow --seed 1 --seconds 10 --trace 0

A run starts one SparkSession at ``local[<cores>]``, generates its inputs
from ``--seed`` (perfbench/datagen.py), sets the workload up several
times (``setup_s`` is the median), then executes the workload's fixed
request list in a closed loop and checks every result. ``--seconds``
sizes that list: the op count is fixed per (workload, seconds), so two
runs with the same seed send the same requests.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` sets up
once and wraps the layer boundaries (perfbench/layers.py) around every
other request of the pass; it reports the per-layer metrics, including
the tracing overhead (traced minus untraced requests' latency).

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Lines before it are a
human-readable report. The exit code is 0 only if every check passed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

# sets up per run; setup_s is their median
SETUPS = 3

END_TO_END = {
    "setup_s": "s",
    "light_ms": "ms",
    "heavy_ms": "ms",
}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _session(work: str, nproc: int):
    from icerunner_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.local.dir": os.path.join(work, "spark-local"),
            # keep the JVM's temp files (and no hsperfdata) out of /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        },
    )


def _descendants(pid: int) -> set[int]:
    """Every live process below ``pid``, from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # "pid (comm) state ppid ..."; comm may hold spaces
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = set(), {pid}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - out
        out |= frontier
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _wait_gone(pids: set[int], seconds: float) -> set[int]:
    """Wait up to ``seconds`` for ``pids`` to end; the ones still alive."""
    deadline = time.monotonic() + seconds
    while (alive := {p for p in pids if _alive(p)}) and time.monotonic() < deadline:
        time.sleep(0.05)
    return alive


def _stop_spark(spark=None, timeout_s: float = 30.0) -> None:
    """Stop Spark and wait until its JVM and every process the JVM
    started (Python workers) have ended, killing any that outlive
    ``timeout_s``. ``spark.stop()`` alone leaves the JVM running until
    this process exits."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        gw, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
        jvm = getattr(gw, "proc", None)
        if jvm is not None:
            procs |= _descendants(os.getpid())
            jvm.stdin.close()  # the gateway JVM exits at EOF on its stdin
            try:
                jvm.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        left = _wait_gone(procs, timeout_s)
        for p in left:
            _log(f"killing leftover process {p}")
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        _wait_gone(left, 10)


def summarize(wl, outcomes) -> dict:
    """Per-shape latency summaries and the two end-to-end class sums."""
    from stats import tail

    shapes: dict[str, dict] = {}
    for shape, cls in wl.shapes().items():
        ms = [o.ms for o in outcomes if o.request.shape == shape]
        if not ms:
            continue
        t = tail(ms)
        shapes[shape] = {
            "class": cls,
            "n": len(ms),
            "p50_ms": statistics.median(ms),
            **({f"p{t[0]:g}_ms": t[1]} if t else {}),
        }
    sums = {
        f"{cls}_ms": sum(s["p50_ms"] for s in shapes.values() if s["class"] == cls)
        for cls in ("light", "heavy")
    }
    return {"shapes": shapes, **sums}


def _named_metrics(wl, outcomes, summary, extras) -> dict:
    """The workload's own named figures (reported, not gated)."""
    from stats import tail

    def pooled(prefix_shapes, name):
        ms = [o.ms for o in outcomes if o.request.shape in prefix_shapes]
        if not ms:
            return {}
        out = {f"{name}_p50_ms": statistics.median(ms), f"{name}_n": len(ms)}
        t = tail(ms)
        if t:
            out[f"{name}_p{t[0]:g}_ms"] = t[1]
        return out

    def per_s(shapes, attr, scale):
        os_ = [o for o in outcomes if o.request.shape in shapes and o.ok]
        secs = sum(o.ms for o in os_) / 1000
        return sum(getattr(o, attr) for o in os_) * scale / secs if secs else 0.0

    out: dict = {}
    if wl.name == "serve_arrow":
        out.update(pooled({"scan_point", "scan_clustered", "scan_unclustered"}, "scan"))
        out.update(pooled({"flight_info", "metadata", "list_tables"}, "meta"))
        out["stream_mb_s"] = per_s({"table_ticket", "slices"}, "nbytes", 1e-6)
    elif wl.name == "ingest_mirror":
        out.update(pooled({"put"}, "put"))
        out.update(pooled({"sync_append", "sync_changelog"}, "sync"))
        out["stored_bytes_per_put_byte"] = extras.get("stored_bytes_per_put_byte")
    elif wl.name == "corpus_ops":
        out["query_s"] = summary["light_ms"] / 1000
        out["maintain_s"] = summary["heavy_ms"] / 1000
    return out


def _traced_pass(wl, st, requests, rec, jobs):
    """Execute ``requests`` in a closed loop. Every other request of
    each shape (the 1st, 3rd, ...) runs with the layer boundaries
    wrapped, as a root span, and Spark job stats are taken after it. Both halves run at the
    same JVM warmth, so their difference is the tracing overhead.
    Returns (traced outcomes, untraced outcomes, Spark stats per traced
    request)."""
    from layers import instrument

    traced, plain, spark_ops = [], [], []
    root = "queries" if wl.name == "corpus_ops" else "client"
    seen: dict[str, int] = {}
    for i, req in enumerate(requests):
        seen[req.shape] = seen.get(req.shape, 0) + 1
        if seen[req.shape] % 2 == 0:
            plain.append(wl.run_one(st, req))
            jobs.since()  # not this request's jobs to the next traced one
            continue
        name = f"{root}.{req.shape}"
        instrument(rec)
        try:
            sid = rec.begin_request(i, name)
            o = wl.run_one(st, req, rec)
            rec.end_request(sid, name)
        finally:
            rec.unwrap_all()
        traced.append(o)
        s = jobs.since()
        s["op_ms"] = o.ms if o.ok else o.extra.get("ms_at_failure", 0.0)
        s["shape"] = req.shape
        spark_ops.append(s)
    return traced, plain, spark_ops


def _commit_bytes(wl, st) -> dict:
    if wl.name != "ingest_mirror":
        return {}
    t = st.connector.table("src")
    meta = data = 0
    for d, _, fs in os.walk(t.path):
        n = sum(os.path.getsize(os.path.join(d, f)) for f in fs)
        if os.path.abspath(d).startswith(os.path.abspath(t.metadata_dir)):
            meta += n
        else:
            data += n
    commits = max(1, len(t.snapshots()))
    return {
        "table.metadata_bytes_per_commit": meta / commits,
        "table.data_bytes_per_commit": data / commits,
    }


def run(args) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "icerunner_spark", "__init__.py")):
        _log("run from the root of an icerunner-spark checkout "
             "(icerunner_spark/ not found)")
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, root)

    import datagen
    from workloads import WORKLOADS, Env

    wl = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".perfbench_work", f"{wl.name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    spark = None
    try:
        t0 = time.perf_counter()
        spark = _session(work, nproc)
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        fixtures = os.path.join(work, "fixtures")
        tables = datagen.write_fixtures(fixtures, args.seed, wl.scale)
        env = Env(spark, work, fixtures, tables, nproc, args.seed)

        # set-up = tables + server (median of SETUPS fresh ones) plus the
        # latency of the warm-up requests on the last; checks stay untimed
        setup_times = []
        # a traced run reports no setup_s, so it sets up once
        n_setups = 1 if args.trace else SETUPS
        for k in range(n_setups):
            t0 = time.perf_counter()
            st = wl.setup(env, f"s{k}")
            setup_times.append(time.perf_counter() - t0)
            if k < n_setups - 1:
                wl.teardown(st)
        wl.prepare_checks(st)
        warm = [wl.run_one(st, r) for r in wl.warm_requests(env.seed)]
        warm_s = sum(o.ms for o in warm) / 1000
        setup_s = statistics.median(setup_times) + warm_s
        _log(f"session {session_s:.1f}s, setups {[round(s, 2) for s in setup_times]}"
             f" + warm-up {warm_s:.2f}s")

        requests = wl.requests(args.seed, args.seconds)
        traced_out = []
        t0 = time.perf_counter()
        if args.trace:
            from layers import per_layer
            from spans import Recorder, SparkJobs

            rec = Recorder()
            traced_out, outcomes, spark_ops = _traced_pass(
                wl, st, requests, rec, SparkJobs(spark))
        else:
            outcomes = [wl.run_one(st, req) for req in requests]
        wall = time.perf_counter() - t0
        final_ok, extras = wl.finish(st)
        if args.trace:
            entry_stats = {}
            if wl.name == "corpus_ops":
                for s in spark_ops:
                    entry_stats.setdefault(s["shape"], []).append(s)
            layer = per_layer(rec, len(traced_out), spark_ops, entry_stats,
                              _commit_bytes(wl, st))
        wl.teardown(st)
        _log(f"{len(requests)} requests in {wall:.1f}s")

        untraced = summarize(wl, outcomes)
        if args.trace:
            traced = summarize(wl, traced_out)
            both = set(traced["shapes"]) & set(untraced["shapes"])
            t_ms, u_ms = (sum(x["shapes"][k]["p50_ms"] for k in both)
                          for x in (traced, untraced))
            layer["trace.overhead_pct"] = 100.0 * (t_ms - u_ms) / u_ms

        every = warm + outcomes + traced_out
        attempted = len(every) + 1  # the end-of-run checks count as one
        failed = sum(1 for o in every if not o.ok) + (0 if final_ok else 1)
        correct = failed == 0
        for o in every:
            if not o.ok:
                _log(f"FAILED {o.request.shape} {o.request.args}: {o.error}")

        e2e = {
            "setup_s": setup_s,
            "light_ms": untraced["light_ms"],
            "heavy_ms": untraced["heavy_ms"],
        }
        report = {
            "workload": wl.name,
            "seed": args.seed,
            "requests": len(requests),
            "measured_s": wall,
            "session_s": session_s,
            "setup_runs_s": setup_times,
            "warm_up_s": warm_s,
            "warm_up_ms": [[o.request.shape, o.ms] for o in warm],
            "error_rate": failed / attempted,
            **{k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
            "named": _named_metrics(wl, outcomes, untraced, extras),
            "shapes": untraced["shapes"],
            "checks": extras,
        }
        print(json.dumps(report, default=float))
        if args.trace:
            from layers import PER_LAYER

            layer["error_rate"] = failed / attempted
            print(json.dumps({"per_layer": layer, "traced_shapes": traced["shapes"]},
                             default=float))
            metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        for m in metrics.values():
            # a shape whose median request failed has no latency to report
            if not math.isfinite(m["value"]):
                m["value"] = None
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if correct else 1
    finally:
        if "pyspark" in sys.modules:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["serve_arrow", "ingest_mirror", "corpus_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
