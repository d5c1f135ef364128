"""Sync-engine benchmark: one workload, one seed, one closed-loop client.

    python3 syncbench/run.py --workload sync_delta --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The last stdout line is the result
object (``correct``, ``attempted``, ``failed``, ``metrics``); the line
before it is the run record (host samples, contention flag, samples).
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones and writes the spans to ``--trace-out``."""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

import harness
from spans import Tracer, attribute, children, read_event_log, rollup

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# unit of every metric this benchmark can print; BENCHMARK.json declares
# the same names (checked by tests/test_syncbench.py)
END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "write_p50_s": "s",
    "bytes_per_row": "bytes", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s", "session.seed_s": "s", "session.warm_s": "s",
    "streaming.sync.merge_s": "s", "streaming.sync.current_s": "s",
    "streaming.sync.rows_rewritten_per_row_changed": "ratio",
    "streaming.sync.bytes_written_per_op": "bytes",
    "core.incremental.rows_scanned": "count", "core.incremental.window_rows": "count",
    "core.incremental.scan_ratio": "ratio", "core.incremental.watermark_commit_s": "s",
    "core.merge.input_rows": "count", "core.merge.echo_suppressed_rows": "count",
    "core.merge.winners": "count", "core.merge.losers": "count",
    "core.merge.shuffle_write_bytes": "bytes", "core.merge.spill_bytes": "bytes",
    "pipeline.sync.load_s": "s", "pipeline.sync.plan_s": "s", "pipeline.sync.sink_s": "s",
    "pipeline.sync.unattributed_s": "s", "pipeline.sync.jobs_per_op": "count",
    "pipeline.sync.stages_per_op": "count", "pipeline.sync.tasks_per_op": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.cpu_util": "share",
    "exec.driver_gap_s": "s",
    "search_index.load_s": "s", "search_index.committed_gens": "count",
    "search_index.files_per_bucket": "count",
    "search_api.build_s": "s", "search_api.build_jobs": "count", "search_api.exec_s": "s",
    "search_api.jobs_per_probe": "count", "search_api.tasks_per_probe": "count",
    "search_api.match_p50_s": "s", "search_api.bool_p50_s": "s",
    "search_api.match_phrase_p50_s": "s", "search_api.fuzzy_p50_s": "s",
    "search_api.term_p50_s": "s", "search_api.prefix_p50_s": "s",
    "search_lifecycle.ingest_s": "s", "search_lifecycle.ingest_jobs": "count",
    "search_lifecycle.compactions": "count", "search_lifecycle.compact_s": "s",
    "trace.unattributed_share": "share", "trace.overhead": "ratio", "trace.spans": "count",
}
WORKLOADS = ("sync_delta", "search_mix")


def workload_module(name: str):
    if name == "sync_delta":
        import sync_delta as mod

        return mod, mod.SyncDelta
    import search_mix as mod

    return mod, mod.SearchMix


def med(xs, default=0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


def block_means(samples) -> list[float]:
    """Mean seconds per sample within each timed block. A block is a fixed
    mix (one cycle and its two writes on ``sync_delta``; a compaction cycle
    of two writes and twelve probes of six kinds on ``search_mix``), so its
    mean is comparable from block to block and run to run, where a median
    over unlike samples jumps between kinds."""
    by_block: dict[int, list[float]] = {}
    for sample in samples:
        by_block.setdefault(sample[0], []).append(sample[1])
    return [statistics.fmean(v) for v in by_block.values()]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", help="span file of a traced run (default: .syncbench_out/ in the checkout)")
    ap.add_argument("--warm", type=int, help="override the workload's warm block count (warm-up curves)")
    args = ap.parse_args(argv)

    proc_start = harness.process_start_epoch()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    import pycasselastic_spark  # noqa: F401  (fail before creating anything)

    mod, cls = workload_module(args.workload)
    warm_blocks = mod.WARM_BLOCKS if args.warm is None else args.warm
    work = harness.WorkDir(ROOT, args.workload)
    host_before = harness.host_sample()
    session = None
    try:
        t = time.time()
        session = harness.Session(work, traced=bool(args.trace))
        start_s = time.time() - t
        tracer = Tracer(session.spark.sparkContext)
        wl = cls(session.spark, work, args.seed, tracer)
        seed_s = []
        for rep in range(mod.SEED_REPS):
            t = time.perf_counter()
            wl.seed_state(rep)
            seed_s.append(time.perf_counter() - t)
        rec = harness.Recorder()
        warm, warm_s, t_first = harness.drive(wl, rec, warm_blocks, args.seconds, tracer, bool(args.trace))
        t = time.perf_counter()
        final = wl.finish(rec)
        finish_s = time.perf_counter() - t
        peak = session.peak_rss_mb()
        jvm_pid = session.jvm_pid
        session.stop()
        session = None
        host_after = harness.host_sample(own_pids=(jvm_pid,))
        # set-up: process start to first timed op, with the seeding counted
        # once at its median over the repetitions
        setup_s = (t_first - proc_start) - sum(seed_s) + med(seed_s)
        attempted = rec.attempted + warm.attempted
        failed = rec.failed + warm.failed
        if args.trace:
            events = read_event_log(os.path.join(work.path, "events"))
            metrics = layers(args.workload, wl, tracer, events, rec, final,
                             {"session.start_s": start_s, "session.seed_s": med(seed_s),
                              "session.warm_s": warm_s})
            units = PER_LAYER
            out = args.trace_out or os.path.join(ROOT, ".syncbench_out", f"trace-{args.workload}-{args.seed}.json")
            os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
            with open(out, "w", encoding="utf-8") as fh:
                json.dump({"workload": args.workload, "seed": args.seed, "metrics": metrics,
                           "spans": tracer.spans}, fh)
        else:
            metrics = {"setup_s": setup_s, "op_p50_s": med(block_means(rec.ops)),
                       "write_p50_s": med(block_means(rec.writes)),
                       "bytes_per_row": final["bytes_per_row"], "peak_rss_mb": peak}
            units = END_TO_END
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": harness.cpus(), "driver_memory": harness.DRIVER_MEMORY,
            "warm_blocks": warm_blocks, "host": harness.contention(host_before, host_after),
            "setup": {"start_s": start_s, "seed_s": seed_s, "warm_s": warm_s}, "finish_s": finish_s,
            "wall_s": time.time() - proc_start,
            "warm_ops": warm.ops, "warm_writes": warm.writes, "ops": rec.ops, "writes": rec.writes,
            "failures": (warm.failures + rec.failures)[:20],
        }
        print(json.dumps(record))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }))
        return 0
    finally:
        try:
            if session is not None:
                session.stop()
        finally:
            work.remove()


def layers(workload: str, wl, tracer, events, rec, final, session_metrics: dict) -> dict:
    """Per-layer metrics from the traced blocks. A layer the workload does
    not exercise reports 0: it did no work."""
    spans = tracer.spans
    counts = attribute(events, spans)
    m = {k: 0.0 for k in PER_LAYER}
    m.update(session_metrics)
    ops = [s for s in spans if s["name"] == "op" and s["parent"] is None]
    roll = [rollup(spans, counts, s) for s in ops]

    def durations(name):
        return [s["end"] - s["start"] for s in spans if s["name"] == name]

    def child(op, name):
        return [c for c in children(spans, op) if c["name"] == name]

    ncpu = harness.cpus()
    m.update({
        "exec.run_s": med(r["run_s"] for r in roll), "exec.cpu_s": med(r["cpu_s"] for r in roll),
        "exec.gc_s": med(r["gc_s"] for r in roll),
        "exec.cpu_util": med(r["cpu_s"] / (r["wall_s"] * ncpu) for r in roll),
        "exec.driver_gap_s": med(r["driver_gap_s"] for r in roll),
        "trace.unattributed_share": sum(r["unattributed_s"] for r in roll) / sum(r["wall_s"] for r in roll),
        "trace.spans": len(spans),
    })
    traced = block_means(o for o in rec.ops if (o[0] - rec.ops[0][0]) % 2 == 0)
    untraced = block_means(o for o in rec.ops if (o[0] - rec.ops[0][0]) % 2 == 1)
    m["trace.overhead"] = med(traced) / med(untraced) - 1 if untraced else 0.0
    writes = [s for s in spans if s["name"] == "app.write"]
    wroll = [rollup(spans, counts, s) for s in writes]
    if workload == "sync_delta":
        got = []
        for op in ops:
            load, sink = child(op, "pipeline.sync.load")[0], child(op, "pipeline.sync.sink")[0]
            commit = child(op, "core.incremental.watermark_commit")
            plan = sink["start"] - load["end"]
            wall = op["end"] - op["start"]
            got.append((load["end"] - load["start"], plan, sink["end"] - sink["start"],
                        wall - (load["end"] - load["start"]) - plan - (sink["end"] - sink["start"])
                        - sum(c["end"] - c["start"] for c in commit)))
        checks = wl.traced_counts
        m.update({
            "streaming.sync.merge_s": med(durations("streaming.sync.merge")),
            "streaming.sync.current_s": med(durations("streaming.sync.current")),
            "streaming.sync.rows_rewritten_per_row_changed": med(
                r["records_written"] / w["rows"] for r, w in zip(wroll, writes)),
            "streaming.sync.bytes_written_per_op": med(
                sum(rollup(spans, counts, s)["bytes_written"] for s in spans
                    if s["parent"] is None and s.get("block") == op["block"]) for op in ops),
            "core.incremental.rows_scanned": med(r["records_read"] for r in roll),
            "core.incremental.window_rows": med(c["window_L"] + c["window_R"] for c in checks),
            "core.incremental.watermark_commit_s": med(durations("core.incremental.watermark_commit")),
            "core.merge.input_rows": med(c["input_L"] + c["input_R"] for c in checks),
            "core.merge.echo_suppressed_rows": med(
                c["window_L"] + c["window_R"] - c["input_L"] - c["input_R"] for c in checks),
            "core.merge.winners": med(c["winners"] for c in checks),
            "core.merge.losers": med(c["losers_L"] + c["losers_R"] for c in checks),
            "core.merge.shuffle_write_bytes": med(r["shuffle_write_bytes"] for r in roll),
            "core.merge.spill_bytes": med(r["spill_bytes"] for r in roll),
            "pipeline.sync.load_s": med(g[0] for g in got), "pipeline.sync.plan_s": med(g[1] for g in got),
            "pipeline.sync.sink_s": med(g[2] for g in got),
            "pipeline.sync.unattributed_s": med(g[3] for g in got),
            "pipeline.sync.jobs_per_op": med(r["jobs"] for r in roll),
            "pipeline.sync.stages_per_op": med(r["stages"] for r in roll),
            "pipeline.sync.tasks_per_op": med(r["tasks"] for r in roll),
        })
        m["core.incremental.scan_ratio"] = (m["core.incremental.window_rows"] / m["core.incremental.rows_scanned"]
                                            if m["core.incremental.rows_scanned"] else 0.0)
    else:
        m.update({
            "search_index.load_s": med(durations("search_index.load")),
            "search_index.committed_gens": sum(wl.gens_seen) / len(wl.gens_seen) if wl.gens_seen else 0.0,
            "search_index.files_per_bucket": final["files_per_bucket"],
            "search_api.build_s": med(durations("search_api.es_search")),
            "search_api.build_jobs": med(rollup(spans, counts, s)["jobs"] for s in spans
                                         if s["name"] == "search_api.es_search"),
            "search_api.exec_s": med(durations("search_api.collect")),
            "search_api.jobs_per_probe": med(r["jobs"] for r in roll),
            "search_api.tasks_per_probe": med(r["tasks"] for r in roll),
            "search_lifecycle.ingest_s": med(r["wall_s"] for r in wroll),
            "search_lifecycle.ingest_jobs": med(r["jobs"] for r in wroll),
            "search_lifecycle.compactions": len(durations("search_lifecycle.compact")),
            "search_lifecycle.compact_s": med(durations("search_lifecycle.compact")),
        })
        for kind in {k for _, _, k in rec.ops}:
            m[f"search_api.{kind}_p50_s"] = med(s for _, s, k in rec.ops if k == kind)
    return m


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
