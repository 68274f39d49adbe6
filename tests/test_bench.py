"""bench.py's output survives a capture that keeps only its last 2000
characters."""

import json
import os

import pytest

TAIL_CHARS = 2000


@pytest.fixture(scope="module")
def bench():
    # bench.py pins the BLAS thread variables at import; keep them out of
    # the rest of the test session
    saved = set(os.environ)
    import bench as mod

    for var in set(os.environ) - saved:
        del os.environ[var]
    return mod


def test_tail_holds_headline_per_query_and_totals(bench):
    # widest plausible readings: every entry at 999.999 s
    timings = {name: 999.999 for name in bench.HEADLINE}
    timings["sync_ndjson_distributed"] = 999.999
    extra = {name: 999.999 for name in bench.EXTRA}
    cold = {**timings, **extra}
    total = round(sum(timings.values()), 3)
    lines = bench.render_report(
        timings, cold, extra, total, round(total + sum(extra.values()), 3), 0.1
    )
    tail = ("\n".join(lines) + "\n")[-TAIL_CHARS:]

    per_query, totals = (json.loads(ln) for ln in tail.splitlines()[-2:])
    assert totals == {
        "metric": "headline_queries_total", "value": total,
        "value_full": round(total + sum(extra.values()), 3),
        "unit": "sec", "sf": 0.1,
    }
    assert per_query["metric"] == "headline_queries_per_query"
    assert per_query["queries"] == timings
    assert lines[-1] == json.dumps(totals, separators=(",", ":"))
