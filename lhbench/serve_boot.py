"""Start `cli serve` for the live workloads.

With LHBENCH_TRACE_OUT set, the benchmark's spans and streaming
listener are installed first (`spans.install_live`) and written to
that path when the server stops; otherwise this is exactly
`python -m old_original_java_little_horse_spark.cli serve ARGS`.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]


def main() -> int:
    trace_out = os.environ.get("LHBENCH_TRACE_OUT")
    tracer = None
    if trace_out:
        import spans

        tracer = spans.Tracer()
        spans.install_live(tracer)
    from old_original_java_little_horse_spark.cli import main as cli_main

    try:
        return cli_main(["serve", *sys.argv[1:]])
    finally:
        if tracer is not None:
            tracer.dump(trace_out)


if __name__ == "__main__":
    sys.exit(main())
