"""The status-store counters are exact: two traced runs of one seed read
the same jobs, stages and shuffle bytes for one operation type per
workload.

    python -m pytest perfbench/test_counters.py -q

Each case runs the benchmark command twice (about 1-2 minutes per
workload on a 4-core box).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTS = ("jobs", "stages", "tasks")
PINNED = COUNTS + ("shuffle_read_bytes", "shuffle_write_bytes")
# layer -> counters that must repeat. Byte counters are pinned only on
# layers that read the generated inputs: a layer that reads files Spark
# wrote earlier in the same run sees rows in shuffle-fetch order, so the
# compressed sizes it reads and writes move by a few bytes between runs.
CASES = {
    "etl_daily": {"plans.bi.cot_totals_by_date": PINNED, "plans.ingest.load_with_audit": COUNTS,
                  "query.exec": PINNED},
    "corpus_screen": {"dedup.neardup_index_search": PINNED, "streaming.vec_batches": COUNTS},
}


def _traced_counters(workload: str, seed: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "4", "--trace", "1"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    assert json.loads(out.stdout.splitlines()[-1])["correct"]
    trace = json.loads(out.stdout.splitlines()[-2])["detail"]["trace_file"]
    with open(os.path.join(ROOT, trace)) as fh:
        counters = json.load(fh)["counters"]
    return {
        layer: {k: counters[layer].get(k, 0) for k in keys}
        for layer, keys in CASES[workload].items()
    }


@pytest.mark.parametrize("workload", sorted(CASES))
def test_counters_repeat_exactly(workload):
    first = _traced_counters(workload, 7)
    assert all(c["jobs"] > 0 and c["stages"] > 0 for c in first.values())
    assert _traced_counters(workload, 7) == first
