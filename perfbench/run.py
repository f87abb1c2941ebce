#!/usr/bin/env python3
"""lakespark benchmark: one command, three workloads, every output checked.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0

Run from the checkout root.  The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: with --trace 0 the
end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics (from an untraced phase followed by a traced phase of the same
length, whose difference is reported as the tracing overhead).  Lines
before it name the workload-specific figures with their units.  See
perfbench/README.md for the workloads and the layer map."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

WORKLOADS = ("serve_read", "ingest_cycle", "batch_mix")

END_TO_END = {
    "setup_s": "s",
    "success_ratio": "ratio",
    "peak_rss_mb": "MB",
    "cpu_ms_per_op": "ms",
    "throughput_per_s": "1/s",
}
# Latency figures: printed, and used for the tracing overhead, but not
# end-to-end metrics: on a shared host they move with CPU time stolen by
# other tenants by more than a bound could allow (README).
WALL_CLOCK = {
    "latency_gm_p50_ms": "ms",
    "latency_gm_tail_ms": "ms",
}

HTTP_LAYERS = {
    "serving.local_ratio": "ratio",
    "qast.snapshot_match_ms": "ms",
    "qast.snapshot_match_us_per_row": "us",
    "findsql.find_ms": "ms",
    "findsql.cache_hit_ratio": "ratio",
    "store.fetch_ms": "ms",
    "store.add_ms": "ms",
    "catalog.commit_ms.upsert_content": "ms",
    "catalog.commit_ms.add_dataset": "ms",
    "catalog.commit_ms.update_dataset": "ms",
    "catalog.commit_ms.set_schema": "ms",
    "catalog.write_amp": "ratio",
    "catalog.space_amp": "ratio",
    "catalog.snapshot_rebuild_ms": "ms",
    "catalog.find_ms": "ms",
    "qast.compile_ms": "ms",
    "extract.first_row_ms": "ms",
    "extract.rows_per_s": "1/s",
    "extract.schema_ms": "ms",
}
SELF_LAYERS = ("server", "serving", "catalog", "qast", "findsql", "store", "extract")
SPARK_STATS = {"jobs": "count", "tasks": "count", "shuffle_write_mb": "MB", "spill_mb": "MB", "gc_ms": "ms"}
TARGET_STATS = ("tasks", "shuffle_write_mb", "spill_mb", "gc_ms")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric, in output order (BENCHMARK.json mirrors it)."""
    import batch

    units = dict(HTTP_LAYERS)
    units["session.start_s"] = "s"
    for q in batch.QUERIES:
        units[f"workloads.{q}.build_s"] = "s"
        units[f"workloads.{q}.exec_s"] = "s"
    for k, u in SPARK_STATS.items():
        units[f"spark.{k}"] = u
    for q in batch.QUERIES:
        for k in TARGET_STATS:
            units[f"spark.{q}.{k}"] = SPARK_STATS[k]
    for layer in SELF_LAYERS:
        units[f"{layer}.self_ms_per_op"] = "ms"
    for k, u in {**END_TO_END, **WALL_CLOCK}.items():
        if k != "setup_s":
            units[f"trace_overhead.{k}"] = u
    return units


def _p50_ms(durations) -> float:
    return common.median(durations) * 1e3 if durations else 0.0


def _spark_unit(stats: dict) -> dict:
    return {
        "jobs": stats.get("jobs", 0),
        "tasks": stats["tasks"],
        "shuffle_write_mb": stats["shuffle_write_bytes"] / 1e6,
        "spill_mb": stats["spill_bytes"] / 1e6,
        "gc_ms": stats["gc_ms"],
    }


# ---------------------------------------------------------------------------
# end-to-end
# ---------------------------------------------------------------------------


def http_e2e(res: dict, phase: str) -> tuple[dict, int, int]:
    p = res[phase]
    s = p["rec"].summary(p["cpu_s"], p["steal"])
    m = {
        "setup_s": res["setup_s"],
        "success_ratio": 1.0 - s["failed"] / max(s["attempted"], 1),
        "peak_rss_mb": p["rss_mb"],
        "cpu_ms_per_op": s["cpu_ms_per_op"],
        "throughput_per_s": s["throughput_per_s"],
        "latency_gm_p50_ms": s["latency_gm_p50_ms"],
        "latency_gm_tail_ms": s["latency_gm_tail_ms"],
    }
    return m, s["attempted"], s["failed"]


def batch_e2e(res: dict, phase: str) -> tuple[dict, int, int]:
    import batch

    p = res[phase]
    by_query = {q: [b + e for b, e in zip(p["build"][q], p["exec"][q])] for q in batch.QUERIES}
    lat = [x for v in by_query.values() for x in v]
    p50, tail = common.kind_latency_ms(by_query)
    m = {
        "setup_s": res["setup_s"],
        "success_ratio": 1.0 - p["failed"] / max(p["attempted"], 1),
        "peak_rss_mb": p["rss_mb"],
        "cpu_ms_per_op": p["cpu_s"] * 1e3 / max(len(lat), 1),
        "throughput_per_s": common.per_cpu_second(len(lat), sum(lat), p["steal"]),
        "latency_gm_p50_ms": p50,
        "latency_gm_tail_ms": tail,
    }
    return m, p["attempted"], p["failed"]


# ---------------------------------------------------------------------------
# per layer
# ---------------------------------------------------------------------------


def _load_spans(span_dir: str) -> list[tuple[list, dict]]:
    out = []
    for name in sorted(os.listdir(span_dir)):
        if name.startswith("spans-") and name.endswith(".json"):
            with open(os.path.join(span_dir, name)) as f:
                doc = json.load(f)
            out.append((doc["spans"], doc["counts"]))
    return out


def http_layers(res: dict, workload: str) -> dict:
    import tracing

    p = res["traced"]
    rec = p["rec"]
    by_name: dict[str, list] = {}
    self_ms = {layer: 0.0 for layer in SELF_LAYERS}
    counts: dict[str, int] = {}
    for spans, cnt in _load_spans(res["span_dir"]):
        selfs = tracing.self_times(spans)
        for s in spans:
            by_name.setdefault(s[2], []).append(s)
            layer = s[2].split(".")[0]
            if layer in self_ms and s[0] in selfs:
                self_ms[layer] += selfs[s[0]] * 1e3
        for k, v in cnt.items():
            counts[k] = counts.get(k, 0) + v

    def durs(name):
        return [s[4] - s[3] for s in by_name.get(name, ())]

    m = {}
    sent = sum(1 for r in rec.rows if r[0].startswith("find"))
    m["serving.local_ratio"] = 1.0 - len(by_name.get("server.op_find", ())) / sent if sent else 0.0
    match = by_name.get("qast.snapshot_match", ())
    m["qast.snapshot_match_ms"] = _p50_ms(durs("qast.snapshot_match"))
    rows = sum(s[6]["rows"] for s in match)
    m["qast.snapshot_match_us_per_row"] = sum(durs("qast.snapshot_match")) * 1e6 / rows if rows else 0.0
    finds = len(by_name.get("findsql.find", ()))
    m["findsql.find_ms"] = _p50_ms(durs("findsql.find"))
    m["findsql.cache_hit_ratio"] = 1.0 - counts.get("findsql.render", 0) / finds if finds else 0.0
    m["store.fetch_ms"] = _p50_ms(durs("store.fetch"))
    m["store.add_ms"] = _p50_ms(durs("store.add"))
    for op in ("upsert_content", "add_dataset", "update_dataset", "set_schema"):
        m[f"catalog.commit_ms.{op}"] = _p50_ms(durs(f"catalog.commit.{op}"))
    submitted = sum(s[6].get("bytes", 0) for n, ss in by_name.items() if n.startswith("catalog.commit.") for s in ss)
    before, after = p["catalog_before"], p["catalog_after"]
    written = sum(v for k, v in after.items() if k not in before and ".current." not in k and not k.startswith("."))
    m["catalog.write_amp"] = written / submitted if submitted else 0.0
    m["catalog.space_amp"] = sum(after.values()) / p["catalog_live"] if p["catalog_live"] else 0.0
    m["catalog.snapshot_rebuild_ms"] = _p50_ms(durs("catalog.snapshot_rebuild"))
    m["catalog.find_ms"] = _p50_ms(durs("catalog.find"))
    m["qast.compile_ms"] = _p50_ms(durs("qast.compile"))
    m["extract.first_row_ms"] = _p50_ms(durs("server.op_extract"))
    drained = by_name.get("extract.drain", ())
    m["extract.rows_per_s"] = (
        sum(s[6]["rows"] for s in drained) / sum(durs("extract.drain")) if drained else 0.0
    )
    m["extract.schema_ms"] = _p50_ms(durs("extract.schema"))
    m["session.start_s"] = res["session_start_s"]
    ops = max(len(rec.rows), 1)
    for layer in SELF_LAYERS:
        m[f"{layer}.self_ms_per_op"] = self_ms[layer] / ops
    # Spark work per unit: per lifecycle (ingest_cycle), per 1000 requests (serve_read)
    per = max(len(rec.cycles), 1) if workload == "ingest_cycle" else max(len(rec.rows), 1) / 1000.0
    for k, v in _spark_unit(p["spark"]).items():
        m[f"spark.{k}"] = v / per
    return m


def batch_layers(res: dict) -> dict:
    import batch

    p = res["traced"]
    m = {"session.start_s": res["session_start_s"]}
    for q in batch.QUERIES:
        m[f"workloads.{q}.build_s"] = common.median(p["build"][q]) if p["build"][q] else 0.0
        m[f"workloads.{q}.exec_s"] = common.median(p["exec"][q]) if p["exec"][q] else 0.0
    per_pass = [_spark_unit(s) for s in p["spark_pass"]]
    for k in SPARK_STATS:
        m[f"spark.{k}"] = common.median([s[k] for s in per_pass]) if per_pass else 0.0
    for q in batch.QUERIES:
        per_q = [_spark_unit(s) for s in p["spark"][q]]
        for k in TARGET_STATS:
            m[f"spark.{q}.{k}"] = common.median([s[k] for s in per_q]) if per_q else 0.0
    return m


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def detail_lines(workload: str, res: dict, e2e: dict) -> list[str]:
    units = {**END_TO_END, **WALL_CLOCK}
    lines = [f"workload {workload}: " + ", ".join(f"{k}={v:.6g} {units[k]}" for k, v in e2e.items())]
    if workload == "batch_mix":
        import batch

        p = res["untraced"]
        lines.append(f"batch_pass_s={common.median(p['passes']):.6g} s over {len(p['passes'])} passes")
        checks = ", ".join(f"{q} {t:.2f}" for q, t in res["check_times"].items())
        lines.append(f"set-up: session {res['session_start_s']:.2f} s, tables {res['gen_s']:.3f} s, "
                     f"check pass {res['check_s']:.2f} s ({checks}); steal {p['steal']:.3f}")
        for q in batch.QUERIES:
            if p["exec"][q]:
                b, e = common.median(p["build"][q]), common.median(p["exec"][q])
                lines.append(f"  {q}: build {b:.4f} s, exec {e:.4f} s")
        for q, why in res["wrong"].items():
            lines.append(f"  WRONG {q}: {why}")
        return lines
    import http_workloads as hw

    p = res["untraced"]
    fig = hw.read_detail(p["rec"]) if workload == "serve_read" else hw.ingest_detail(p["rec"])
    lines.append(", ".join(f"{k}={v:.6g} {u}" for k, (v, u) in fig.items()))
    lines.append(
        f"workers={res['workers']} clients={res['clients']} requests={len(p['rec'].rows)} "
        f"errors={p['rec'].errors} steal={p['steal']:.3f}"
    )
    by_kind = p["rec"].by_kind()
    for kind, (wall, cpu, n) in p["rec"].segments.items():
        p50 = common.median(by_kind[kind]) * 1e3 if n else 0.0
        lines.append(f"  {kind}: {n} requests in {wall:.2f} s, p50 {p50:.3f} ms, "
                     f"cpu {cpu * 1e3 / max(n, 1):.3f} ms/op")
    lines.append(f"set-up: session {res['session_start_s']:.2f} s, seeding {res['seed_s']:.2f} s")
    return lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (smoke tests)")
    args = ap.parse_args(argv)
    if not common.program_present():
        print("perfbench: comlake_core_spark is not in this checkout; nothing to measure", file=sys.stderr)
        return 2

    # a SIGTERM unwinds through the finally blocks that stop the servers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(common.WORK, f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    common.apply_env(common.spark_env(work))
    trace = bool(args.trace)
    try:
        if args.workload == "batch_mix":
            import batch

            res = batch.run_batch(args.seed, args.seconds, trace, args.scale, work)
            e2e, attempted, failed = batch_e2e(res, "untraced")
        else:
            import http_workloads

            res = http_workloads.run_http(args.workload, args.seed, args.seconds, trace, args.scale, work)
            e2e, attempted, failed = http_e2e(res, "untraced")
        metrics = {k: (e2e[k], u) for k, u in END_TO_END.items()}
        if trace:
            traced, t_att, t_fail = (batch_e2e if args.workload == "batch_mix" else http_e2e)(res, "traced")
            attempted, failed = attempted + t_att, failed + t_fail
            layers = batch_layers(res) if args.workload == "batch_mix" else http_layers(res, args.workload)
            for k in traced:
                if k != "setup_s":
                    layers[f"trace_overhead.{k}"] = traced[k] - e2e[k]
            units = per_layer_units()
            metrics = {k: (layers.get(k, 0.0), u) for k, u in units.items()}
        lines = detail_lines(args.workload, res, e2e)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(common.WORK)
        except OSError:  # another run's directory is still there
            pass
    for line in lines:
        print(line)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
