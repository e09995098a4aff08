"""Server launcher: runs ``ebike_spark.server.EbikeServer`` in its own
process, so the load generator's row decoding never shares the
server's interpreter lock.

The parent process talks to the launcher over stdin/stdout, one JSON
object per line (lines the launcher prints start with ``WIREBENCH``;
anything else on stdout is the JVM's or Spark's and is ignored):

- on start it reports ``port``, ``jvm_pid`` and ``session_start_s``;
- ``{"cmd": "trace"}`` installs the tracing wrappers (trace_layers.py),
  and ``{"cmd": "on"}`` / ``{"cmd": "off"}`` start and stop tracing
  the statements that begin from then on;
- ``{"cmd": "canary"}`` runs ``bench.host_canary`` on the server's
  session and reports its seconds;
- ``{"cmd": "report"}`` reports the collected spans and Spark counters;
- ``{"cmd": "quit"}``, or end of input, stops the server and the JVM.

Run as ``python3 wirebench/serve.py <checkout root>``; the environment
(heap, cores, directories) is set by the parent.
"""

from __future__ import annotations

import json
import sys
import time


def _say(**msg) -> None:
    sys.stdout.write("WIREBENCH " + json.dumps(msg) + "\n")
    sys.stdout.flush()


def main() -> None:
    root = sys.argv[1]
    sys.path.insert(0, root)
    from ebike_spark.server import EbikeServer
    from ebike_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("wirebench_server")
    session_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    server = EbikeServer(spark).start()
    tracer = None
    _say(
        port=server.port,
        jvm_pid=int(spark._jvm.java.lang.ProcessHandle.current().pid()),
        session_start_s=session_start_s,
        heap_mb=spark._jvm.java.lang.Runtime.getRuntime().totalMemory() / 2**20,
    )
    try:
        for line in sys.stdin:
            cmd = json.loads(line)["cmd"]
            if cmd == "trace":
                from trace_layers import install_server_tracer

                tracer = install_server_tracer(spark)
                _say(ok=True)
            elif cmd in ("on", "off"):
                tracer.enabled = cmd == "on"
                _say(ok=True)
            elif cmd == "canary":
                from bench import host_canary

                _say(canary_s=host_canary(spark))
            elif cmd == "report":
                _say(report=tracer.report() if tracer is not None else None)
            elif cmd == "quit":
                break
    finally:
        server.stop()
        spark.stop()


if __name__ == "__main__":
    main()
