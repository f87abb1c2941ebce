"""Serving-worker launcher: installs the benchmark's span wrappers (in
traced runs), then calls ``comlake_core_spark.serving.main`` with the
worker's usual arguments.

Commands on stdin: ``trace`` switches the wrappers on, ``dump <path>``
writes the spans; end of input stops the worker."""

from __future__ import annotations

import os
import sys
import threading


def main() -> None:
    argv = sys.argv[1:]
    traced = "--trace" in argv
    if traced:
        argv.remove("--trace")
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.dirname(here))
    sys.path.insert(0, here)
    import tracing

    if traced:
        tracing.install_worker()
    from comlake_core_spark import serving

    def serve() -> None:
        try:
            serving.main(argv)
        except BaseException as exc:  # noqa: BLE001 - report and end the process
            print(f"FAILED {exc!r}", flush=True)
            os._exit(1)

    threading.Thread(target=serve, daemon=True).start()
    for line in sys.stdin:
        cmd = line.split()
        if not cmd:
            continue
        if cmd[0] == "trace":
            tracing.TRACER.enabled = True
        elif cmd[0] == "dump":
            tracing.TRACER.dump(cmd[1])
        print("ok", flush=True)


if __name__ == "__main__":
    main()
