#!/usr/bin/env python3
"""Extraction benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload crawl_pages --seed 1 --seconds 15 --trace 0

Stages the seeded inputs (untimed, reused per seed), then runs the workload
in a new process session (``worker.py``) that drives one ``local[2]`` Spark
session, and prints as the last stdout line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (see README.md). Everything else goes to stderr,
including a human-readable summary with quartiles and sample counts.

A worker that outlives its deadline is killed with its whole session;
its documents all count as failed and the run is not retried. Scratch state
lives under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import select
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import procfs

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
PACKAGE = "amazon_textract_transformer_pipeline_spark"

#: input kind and staged size per workload
WORKLOADS = {
    "crawl_pages": ("crawl", {"n_docs": 800, "n_files": 8}),
    "warc_long_resume": ("warc", {"n_docs": 8, "n_files": 4, "n_words": 3000}),
}
#: the whole run, staging included, ends well inside 180 s
DEADLINE_S = 165.0
#: time kept back from the worker for its last checks and its shutdown
SHUTDOWN_S = 20.0
RSS_PERIOD_S = 0.25


def log(*a) -> None:
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def _stop_session(proc: subprocess.Popen, grace_s: float = 15.0) -> None:
    """Kill what is left of the worker's session and wait for every member
    to end (a JVM or a Python worker can outlive the process that started
    it)."""
    end = time.monotonic() + grace_s
    while True:
        for pid in procfs.session_stats(proc.pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        proc.poll()
        if proc.returncode is not None and not procfs.session_stats(proc.pid):
            return
        if time.monotonic() > end:
            log(f"session {proc.pid} still has members after kill")
            return
        time.sleep(0.05)


def measure(args, stage_dir: str, work: Path, deadline: float) -> dict:
    """Run the worker; collect its messages and its session's peak RSS."""
    env = dict(os.environ)
    # Python workers are launched by the JVM: they find the package through
    # PYTHONPATH, wherever the benchmark was started from
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = str(work / "tmp")
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.makedirs(env["TMPDIR"], exist_ok=True)
    r, w = os.pipe()
    t_spawn = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "worker.py"), "--workload", args.workload,
         "--stage", stage_dir, "--work", str(work), "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(args.trace),
         "--budget", str(deadline - SHUTDOWN_S - time.perf_counter()),
         "--control-fd", str(w)],
        pass_fds=(w,), stdin=subprocess.DEVNULL, stdout=sys.stderr,
        stderr=sys.stderr, cwd=str(work), env=env, start_new_session=True)
    os.close(w)
    st = {"events": [], "peak_rss": 0, "timed_out": False}
    sampling, buf = False, b""
    try:
        while True:
            if time.perf_counter() > deadline:
                st["timed_out"] = True
                log("worker missed its deadline; killing its session")
                break
            ready, _, _ = select.select([r], [], [], RSS_PERIOD_S)
            if sampling:
                st["peak_rss"] = max(st["peak_rss"],
                                     procfs.session_rss_bytes(proc.pid))
            if not ready:
                continue
            chunk = os.read(r, 1 << 16)
            if not chunk:
                break
            buf += chunk
            *lines, buf = buf.split(b"\n")
            for line in lines:
                msg = json.loads(line)
                msg["t"] = time.perf_counter() - t_spawn
                st["events"].append(msg)
                if msg["event"] == "ready":
                    sampling = True
                elif msg["event"] in ("timed_end", "trace"):
                    sampling = False
        if not st["timed_out"]:
            proc.wait(timeout=max(1.0, deadline - time.perf_counter()))
    except subprocess.TimeoutExpired:
        st["timed_out"] = True
    finally:
        os.close(r)
        _stop_session(proc)
    st["returncode"] = proc.returncode
    return st


def summarize(args, st: dict) -> dict:
    ev = {}
    for m in st["events"]:
        ev.setdefault(m["event"], []).append(m)
    iters = ev.get("iter", [])
    started = ev.get("start", [])
    ready = ev.get("ready", [])
    attempted = sum(m["docs"] for m in started)
    failed = sum(m["failed"] for m in ready + iters + ev.get("trace", []))
    finished = (not st["timed_out"] and st["returncode"] == 0
                and "ready" in ev and ("trace" in ev if args.trace
                                       else "timed_end" in ev))
    if not finished:
        # a crashed or hung run: every doc it was given counts as failed
        log(f"worker failed (exit {st['returncode']}, "
            f"timed out: {st['timed_out']})")
        attempted = max(attempted, 1)
        failed = attempted
    setup_s = ready[0]["t"] if ready else 0.0
    if args.trace:
        metrics = dict(ev["trace"][0]["metrics"]) if "trace" in ev else {}
        session = ev.get("session", [])
        metrics["session.start_s"] = session[0]["t"] if session else 0.0
        metrics["session.peak_rss_mb"] = st["peak_rss"] / 2**20
        units = _per_layer_units()
        out = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()
               if k in units}
    else:
        rate = [m["docs"] / m["wall_s"] for m in iters]
        resume = [m["resume_s"] for m in iters]
        for name, vals, unit in (("docs_per_s", rate, "docs/s"),
                                 ("resume_s", resume, "s")):
            if vals:
                q1, q2, q3 = _quartiles(vals)
                log(f"{args.workload} {name}: median {q2:.4f} {unit} "
                    f"(q1 {q1:.4f}, q3 {q3:.4f}, n={len(vals)})")
        out = {
            "docs_per_s": {"value": statistics.median(rate) if rate else 0.0,
                           "unit": "docs/s"},
            "resume_s": {"value": statistics.median(resume) if resume
                         else 0.0, "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
        log(f"{args.workload} peak_rss_mb (not gated): "
            f"{st['peak_rss'] / 2**20:.1f} MB")
    log(f"{args.workload} setup_s: {setup_s:.3f} s; doc_error_rate: "
        f"{failed / attempted:.6f} ratio ({failed} of {attempted} docs)")
    return {"correct": finished and failed == 0, "attempted": attempted,
            "failed": failed, "metrics": out}


def _per_layer_units() -> dict[str, str]:
    with open(REPO / "BENCHMARK.json", encoding="utf-8") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.perf_counter() + DEADLINE_S
    if not (REPO / PACKAGE).is_dir() or not (REPO / "tests" / "ref_rules.py").is_file():
        log(f"no {PACKAGE} package or tests/ref_rules.py next to {HERE.name}/")
        return 2
    sys.path.insert(0, str(REPO))
    import stage

    work = REPO / ".perfbench_work"
    kind, size = WORKLOADS[args.workload]
    stage_dir, staged_s = stage.stage(str(work / "stage"), kind, args.seed, **size)
    log(f"staged {kind} inputs for seed {args.seed} in {staged_s:.2f} s "
        f"(excluded from every metric)")
    st = measure(args, stage_dir, work, deadline)
    print(json.dumps(summarize(args, st)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
