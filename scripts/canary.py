"""Standalone host-throughput canary — bench.py's exact probe pair.

Prints one JSON line with py_loop_sec / blas_matmul_sec / loadavg so a
round can decide WHETHER to trust (or even start) a bench run without
paying a full Spark session. The r19 lesson this mechanizes: on this
host class, VM-level noisy-neighbor steal can degrade throughput while
loadavg reads drained, so a quiet loadavg is necessary but the canary
pair is the deciding signal. Trust a bench total only when BOTH
  - py_loop_sec is inside the documented host band (0.086-0.095 on the
    fast-canary host; 0.118-0.130 on the r16/r17 certified-band host),
  - blas_matmul_sec is at or below the quiet ceiling, <= ~0.030 (an
    UPPER bound — faster readings, e.g. the 0.009-0.010 clean starts in
    PERF.md addendum 3, are MORE trustworthy, not suspect; excursions to
    0.05-0.10 are steal, even at loadavg < 0.5),
and 5/15-min loadavg has drained below ~1.5 (the r18 settling rule).
r19 addendum: steal can burst MID-run, so a clean standalone probe only
certifies the start — the closing-number protocol is the in-run bracket
(bench.py records cpu_canary AND cpu_canary_end; both must be clean).

Returns bench.py's own ``_canary_pair`` so the two can never drift apart.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _canary_pair  # noqa: E402


def probe() -> dict:
    load = os.getloadavg()
    return {**_canary_pair(), "load_avg": [round(x, 2) for x in load]}


if __name__ == "__main__":
    print(json.dumps(probe()))
