"""The measuring process: one workload, one seed, one run.

``run.py`` starts this file in a fresh interpreter once the inputs exist, so
``setup_s`` covers interpreter start, imports, session start, Python worker
spawn and one warm-up pass of the workload's pipeline over a sample. The
timed region is a closed loop, one batch job at a time, until ``--seconds``
have passed; the job running at the deadline finishes and counts. Outputs
are checked after the timed region. The last line of stdout is the result.

With ``--trace 1`` every loop runs in a session restarted in the same JVM
(its compiled code stays warm; one small job starts the Python workers
again): an untraced loop, whose outputs are checked, a traced loop with
Spark's event log on and spans around each public call, followed by the
per-layer probes, and a second untraced loop. The tracing overhead compares
the traced loop with the mean of the two untraced ones that bracket it. The
run prints the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import workloads as W  # noqa: E402
from procmon import TreeMonitor  # noqa: E402

END_TO_END = {
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "cpu_s_per_kdoc": "s/kdoc",
    "peak_rss_mb": "MB",
    "ok_frac": "frac",
}
# every per-layer metric, printed by every traced run; a layer the workload
# does not exercise reads 0
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "kernels.us_per_doc": "us",
    **{f"kernels.{g}.us_per_doc": "us" for g in W.KERNEL_GROUPS},
    "kernels.failed": "count",
    "operators.extract.local1_us_per_doc": "us",
    "operators.extract.framework_us_per_doc": "us",
    "operators.extract.scale_eff": "ratio",
    "operators.extract.scale_eff_spread": "ratio",
    "operators.extract.task_cpu_s": "s",
    "operators.extract.gc_s": "s",
    "operators.extract.task_skew": "ratio",
    "sources.writer.stage_s": "s",
    "sources.writer.first_run_s": "s",
    "sources.writer.resume_s": "s",
    "sources.writer.noop_rerun_s": "s",
    "sources.writer.bucket_s.p50": "s",
    "sources.writer.bucket_s.max": "s",
    "sources.writer.readback_s": "s",
    "sources.writer.stage_shuffle_bytes": "B",
    "sources.writer.bytes_written_per_input_byte": "ratio",
    "sources.writer.buckets_done": "count",
    "sources.writer.buckets_skipped": "count",
    "functions.text.gates_s": "s",
    "functions.text.gopher_s": "s",
    "functions.text.survivors": "count",
    "operators.dedup.decontaminate_s": "s",
    "operators.dedup.exact_s": "s",
    "operators.dedup.near_s": "s",
    "operators.dedup.near_estimated_s": "s",
    "operators.dedup.lsh_candidates": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.verify_yield": "ratio",
    "operators.dedup.estimate_decided_frac": "ratio",
    "operators.dedup.shuffle_bytes": "B",
    "operators.dedup.spill_bytes": "B",
    "caching.checkpoint_s": "s",
    "trace.docs_per_s": "docs/s",
    "trace.untraced_docs_per_s": "docs/s",
    "trace.overhead_frac": "ratio",
    "trace.noise_frac": "ratio",
}


def timed_loop(wl, seconds: float, spans: W.Spans, mon: TreeMonitor) -> dict:
    """Closed loop of batch jobs for ``seconds``; a job that raises ends the
    loop and counts as attempted."""
    cpu0, t0 = mon.cpu_s(), time.time()
    done = attempted = 0
    error = None
    while True:
        try:
            done += wl.run_once(spans)
        except Exception:  # the program failed: report it, do not crash
            error = traceback.format_exc()
            attempted += wl.n_docs
            break
        attempted = done
        if time.time() - t0 >= seconds:
            break
    wall = time.time() - t0
    return {"done": done, "attempted": attempted, "wall": wall,
            "cpu": mon.cpu_s() - cpu0, "error": error}


def restart(wl, run_dir: str, event_dir: str | None = None) -> None:
    """Move the workload to a new session in the same JVM, with no outputs
    recorded yet (stopping a stopped session does nothing)."""
    wl.spark.stop()
    wl.rebind(W.session(run_dir, event_dir=event_dir))
    wl.outputs.clear()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--trace-out", required=True)
    ap.add_argument("--spawn-time", type=float, required=True)
    args = ap.parse_args()

    mon = TreeMonitor().start()
    t0 = time.time()
    spark = W.session(args.run_dir)
    start_s = time.time() - t0
    wl = W.WORKLOADS[args.workload](spark, args.input, args.run_dir)
    t0 = time.time()
    wl.warm()
    warmup_s = time.time() - t0
    setup_s = time.time() - args.spawn_time

    if args.trace:
        restart(wl, args.run_dir)
    run = timed_loop(wl, args.seconds, W.Spans(False), mon)
    t0 = time.time()
    ok = 0
    if run["error"]:
        print(run["error"], file=sys.stderr)
    else:
        try:
            ok = wl.check()
        except Exception:  # output missing or unreadable: nothing is ok
            print(traceback.format_exc(), file=sys.stderr)
    docs_per_s = run["done"] / run["wall"]
    print(f"perfbench: {args.workload}: start {start_s:.1f} s, warm-up"
          f" {warmup_s:.1f} s, timed {run['wall']:.1f} s ({len(wl.outputs)}"
          f" jobs), check {time.time() - t0:.1f} s", file=sys.stderr)

    if args.trace:
        if run["error"]:
            return 1  # no layer metrics from a failing program
        events = os.path.join(args.run_dir, "events")
        restart(wl, args.run_dir, event_dir=events)
        spans = W.Spans(True)
        traced = timed_loop(wl, args.seconds, spans, mon)
        if traced["error"]:
            print(traced["error"], file=sys.stderr)
            return 1
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        metrics.update(wl.probe(spans))
        log = W.event_log(wl.spark, events)
        metrics.update(wl.layer_metrics(spans, log))
        restart(wl, args.run_dir)
        after = timed_loop(wl, args.seconds, W.Spans(False), mon)
        if after["error"]:
            print(after["error"], file=sys.stderr)
            return 1
        wl.spark.stop()
        metrics.update(wl.after_session())
        after_rate = after["done"] / after["wall"]
        traced_rate = traced["done"] / traced["wall"]
        untraced = (docs_per_s + after_rate) / 2
        noise = abs(docs_per_s - after_rate) / untraced
        overhead = 1 - traced_rate / untraced
        metrics.update({
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "trace.docs_per_s": traced_rate,
            "trace.untraced_docs_per_s": untraced,
            # an overhead within the spread of the untraced loops is noise
            "trace.overhead_frac": overhead if abs(overhead) > noise else 0.0,
            "trace.noise_frac": noise,
        })
        with open(args.trace_out, "w", encoding="utf-8") as f:
            json.dump({"spans": spans.rows, "metrics": metrics}, f)
        units = PER_LAYER
    else:
        mon.stop()
        print(f"perfbench: peak {mon.peak_mem / 2**20:.0f} MB: JVM"
              f" {mon.peak_jvm / 2**20:.0f} MB, Python {mon.peak_py / 2**20:.0f} MB",
              file=sys.stderr)
        metrics = {
            "docs_per_s": docs_per_s,
            "setup_s": setup_s,
            "cpu_s_per_kdoc": run["cpu"] / (run["done"] / 1000) if run["done"] else 0.0,
            "peak_rss_mb": mon.peak_mem / 2**20,
            "ok_frac": ok / run["attempted"],
        }
        units = END_TO_END
        wl.spark.stop()
    print(json.dumps({
        "correct": ok == run["attempted"],
        "attempted": run["attempted"],
        "failed": run["attempted"] - ok,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
