"""Primary launcher: starts the Spark session, seeds the catalog and the
content store from the seed, and serves them with ComlakeServer (the
single writer) plus N read workers on one SO_REUSEPORT port.  Workers
start through ``worker.py`` so traced runs can wrap them too.

Prints one JSON line when ready, then answers commands on stdin, one
JSON line each:
  trace        switch the span wrappers on here and in every worker
  mark         collect garbage (Python and JVM), start a Spark accounting window
  stats        Spark work (jobs, tasks, shuffle, spill, GC) since the mark
  stop <dir>   write spans to <dir> (traced runs), shut everything down
End of input also shuts down."""

from __future__ import annotations

import argparse
import gc
import io
import json
import os
import select
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402


def seed_lake(spark, spec: gen.CatalogSpec, root: str):
    """Store every blob, then write the content table and the dataset
    table in one commit each (per-row mutations would cost a snapshot
    rewrite per row)."""
    from comlake_core_spark.catalog import Catalog
    from comlake_core_spark.catalog.catalog import CONTENT_SCHEMA
    from comlake_core_spark.store import LocalStore

    store = LocalStore(os.path.join(root, "cas"))
    catalog = Catalog(spark, os.path.join(root, "cat"))
    for blob, _mime in spec.blobs:
        store.add(io.BytesIO(blob))
    rows = [(cid, mime, extra) for cid, (_b, mime), extra in zip(spec.cids, spec.blobs, spec.content_extra)]
    # Catalog has no public bulk content insert; _commit is the snapshot
    # write every content mutation goes through.
    catalog._commit(
        "content", lambda: (spark.createDataFrame(rows, CONTENT_SCHEMA), None), CONTENT_SCHEMA
    )
    ids = catalog.add_datasets(spec.datasets)
    if ids != list(range(1, len(spec.datasets) + 1)):
        raise RuntimeError("seeded dataset ids are not 1..n")
    return store, catalog


def _readline(pipe, timeout: float) -> str:
    ready, _, _ = select.select([pipe], [], [], timeout)
    if not ready:
        raise TimeoutError("no answer from a serving worker")
    return pipe.readline()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=("serve_read", "ingest_cycle"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--workers", type=int, required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    if args.trace:
        tracing.install_primary()
    from comlake_core_spark.server import ComlakeServer
    from comlake_core_spark.session import get_serving_spark

    t0 = time.perf_counter()
    spark = get_serving_spark("perfbench-primary")
    spark.sparkContext.setLogLevel("ERROR")
    session_start = time.perf_counter() - t0

    build = gen.serve_catalog if args.workload == "serve_read" else gen.ingest_catalog
    root = os.path.join(args.workdir, "lake")
    t = time.perf_counter()
    store, catalog = seed_lake(spark, build(args.seed, args.scale), root)
    server = ComlakeServer(
        spark, store, catalog, port=0, reuse_port=True,
        snapshot_export=os.path.join(root, "find.snap"),
    )
    server._snapshot()  # build + export, so workers serve /find from the start
    seed_s = time.perf_counter() - t
    gc.collect()  # the generated inputs are garbage now; the serve loop keeps none

    port = server.start()
    private_port = server.start_private()
    worker_cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--port", str(port), "--cas", server.store.root,
        "--snapshot", server.snapshot_export, "--primary-port", str(private_port),
        "--catalog", server.catalog.root,
    ] + (["--trace"] if args.trace else [])
    workers = [
        subprocess.Popen(worker_cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        for _ in range(args.workers)
    ]
    for w in workers:
        line = _readline(w.stdout, 60)
        if line.strip() != "READY":
            raise RuntimeError(f"serving worker failed to start: {line!r}")
    window = common.SparkWindow(spark)
    print(
        json.dumps(
            {
                "port": port,
                "session_start_s": session_start,
                "seed_s": seed_s,
                "catalog_root": server.catalog.root,
            }
        ),
        flush=True,
    )

    def tell_workers(cmd_for) -> None:
        for i, w in enumerate(workers):
            w.stdin.write(cmd_for(i) + "\n")
            w.stdin.flush()
        for w in workers:
            _readline(w.stdout, 60)

    span_dir = None
    for line in sys.stdin:
        cmd = line.split()
        if not cmd:
            continue
        reply: dict = {"ok": True}
        if cmd[0] == "trace":
            tracing.TRACER.enabled = True
            tell_workers(lambda i: "trace")
        elif cmd[0] == "mark":
            # a measured phase starts from a collected heap, so its peak RSS
            # does not depend on when the JVM last collected during set-up
            gc.collect()
            spark._jvm.System.gc()
            window.mark()
        elif cmd[0] == "stats":
            reply = window.stats()
        elif cmd[0] == "stop":
            span_dir = cmd[1] if len(cmd) > 1 else None
            break
        print(json.dumps(reply), flush=True)

    if span_dir is not None and args.trace:
        tracing.TRACER.dump(os.path.join(span_dir, "spans-primary.json"))
        tell_workers(lambda i: f"dump {os.path.join(span_dir, f'spans-worker{i}.json')}")
    for w in workers:
        w.stdin.close()
    for w in workers:
        w.wait(timeout=30)
    server.stop()
    common.stop_spark(spark)
    print(json.dumps({"ok": True}), flush=True)


if __name__ == "__main__":
    main()
