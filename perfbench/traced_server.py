"""Traced launcher: the unchanged server entrypoint with span recorders.

Usage (the benchmark starts it; the arguments are the server's own):

    PERFBENCH_SPANS=spans.jsonl python3 perfbench/traced_server.py --port 0 --native-port 0

It wraps the public entry points listed in ``tracing.install``, then
calls ``cowsdb_spark.__main__.main``. The server's SIGTERM handler
exits through ``sys.exit``, so the spans are written at exit.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing  # noqa: E402


def main() -> None:
    tracing.install()
    tracing.dump_at_exit(os.environ["PERFBENCH_SPANS"])

    import cowsdb_spark.__main__ as entry
    from cowsdb_spark.engine import Engine

    init = Engine.__init__

    def init_and_poll(self, *args, **kwargs):
        init(self, *args, **kwargs)
        tracing.start_job_poller(self.spark)

    Engine.__init__ = init_and_poll
    entry.main(sys.argv[1:])


if __name__ == "__main__":
    main()
