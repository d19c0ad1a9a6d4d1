"""Driver fast-path gate scaling (r12, VERDICT r11 #2/#8).

Several operators collect metadata-scale inputs to the driver and iterate
there instead of paying a per-round Spark job floor. Each documents its
own gate constants and escape hatches:

- paths.py: transitive_closure and seeded_closure have one driver route
  each (numpy over dictionary-encoded codes) behind ONE size gate,
  _VEC_CLOSURE_MAX_BASE, plus the _VEC_CLOSURE_MAX_PAIRS/_WORK budgets;
  everything else runs the distributed loop,
- graph.py: driver connected components, PageRank and SSSP,
- similarity.py: driver k-means,
- dictionary.py: driver dictionary rank.

The constants assume a driver with >= ~4 GB of headroom
(the r11 math: ~1.3 GB peak at the largest cap); a small-driver deployment
must be able to LOWER them, and the bench's distributed lane must be able
to ZERO them, without editing source.

``$D_SPARQ_DRIVER_GATE_SCALE`` is a float multiplier applied to every
driver-gate constant at comparison time (read per call — cheap, and it
lets the bench flip it around one query):

- unset / "1"  -> the documented defaults,
- "0"          -> every driver fast path declines; the distributed plans
                  (the 100 TB path) run exactly as the gates-off
                  equivalence tests pin them,
- "0.25"       -> quarter-size gates for a small driver.

The scale applies to size gates AND the pair/work budgets (both bound
driver memory/time). Correctness is gate-independent by construction —
every gated path has a bit-equality test against its distributed twin.
"""

from __future__ import annotations

import os

_ENV = "D_SPARQ_DRIVER_GATE_SCALE"


def gate(n: int) -> int:
    """``n`` scaled by $D_SPARQ_DRIVER_GATE_SCALE (identity when unset)."""
    s = os.environ.get(_ENV)
    if not s:
        return n
    try:
        return int(n * float(s))
    except ValueError:
        raise ValueError(
            f"{_ENV} must be a float multiplier, got {s!r}"
        ) from None
