"""Layered crawl-engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload crawl_small --seed 7919 --seconds 10 --trace 0

Run it from the repository root.  Workloads: ``crawl_small``, ``crawl_bulk``
(``CrawlEngine`` rounds checked against ``simulate_crawl``) and
``extract_warc`` (``read_warc_pages`` → ``extract_pages`` checked against the
in-process kernel).  ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json, ``--trace 1`` its per-layer metrics from a traced run.

The last stdout line is one JSON object with exactly the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.  The lines before it carry the
host stamp and the failure causes; the full record, with per-round detail,
goes to ``.perfbench/results/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: the workload seed when none is given; claims are checked on seeds >= 1000
DEFAULT_SEED = 7919
WORKLOADS = ("crawl_small", "crawl_bulk", "extract_warc")
PR_SET_CHILD_SUBREAPER = 36
#: seconds children get to exit on their own, then again after SIGTERM
REAP_GRACE_S = 5.0


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _metric_specs(trace: int) -> list:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def _stop_jvm() -> None:
    """Stop any session still open and wait for the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def _adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, so what
    the JVM forks (the launcher's shell, the pyspark daemon and its workers)
    comes back to this process when its parent dies, and is waited for."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _children() -> list:
    me, kids = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == me and fields[0] != "Z":
            kids.append(int(name))
    return kids


def _reap_all() -> None:
    """Stop multiprocessing's resource tracker, then wait for every child
    and adopted orphan to end: REAP_GRACE_S to exit on its own, as much
    again after SIGTERM, then SIGKILL."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    start, signalled = time.monotonic(), None
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no child left
        if pid:
            continue
        waited = time.monotonic() - start
        sig = (signal.SIGKILL if waited > 2 * REAP_GRACE_S
               else signal.SIGTERM if waited > REAP_GRACE_S else None)
        # SIGKILL is repeated: orphans of a killed child are adopted late
        if sig is not None and (sig != signalled or sig == signal.SIGKILL):
            kids = _children()
            if sig != signalled:
                print(f"sending {sig.name} to {len(kids)} process(es) still "
                      f"running: {kids}", file=sys.stderr)
            for kid in kids:
                try:
                    os.kill(kid, sig)
                except ProcessLookupError:
                    pass
            signalled = sig
        time.sleep(0.05)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "crawler_engine_spark")):
        print(f"crawler_engine_spark/ not found under {ROOT}: run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    specs = _metric_specs(args.trace)

    import hostinfo

    if args.workload == "extract_warc":
        import warcbench as bench
    else:
        import crawlbench as bench
    _adopt_orphans()
    try:
        res = bench.run(args.workload, args.seed, args.seconds, bool(args.trace), ROOT)
    finally:
        try:
            _stop_jvm()
        finally:
            _reap_all()

    missing = [m["name"] for m in specs if m["name"] not in res["metrics"]]
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
        return 3
    metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
               for m in specs}
    stamp = hostinfo.stamp(ROOT, res["java"], res["ceiling"])
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host": stamp, "causes": res["causes"],
              "all_metrics": res["metrics"], "detail": res["detail"]}
    out_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-{args.seed}-t{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"host": stamp}))
    print(json.dumps({"failure_causes": res["causes"], "detail": path}))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
