"""Measured parallel-scaling invariant (round-9 VERDICT item 6).

The bench fixture files are single parquet row groups, so byte-range
splitting cannot parallelize their scans and the driver's 8-core vs
32-core bench shows ratio ≈ 1 on most queries. That makes the "scan path
parallelizes at scale" claim rest only on plan fences. This test writes a
MULTI-row-group file (pyarrow row_group_size) and proves the same read
path actually speeds up with cores when the storage is splittable:
N = min(8, usable cores) must beat 1 core by >= N/4 on a CPU-bound scan,
a quarter of the ideal Nx (2.0 at 8 cores; lenient because the host may
share its cores). Sessions
with different local[N] masters can't coexist in one JVM, so each timing
runs in its own subprocess (tools/scaling_probe.py, min-of-3 inside);
one retry pair absorbs a contention burst.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as papq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N_ROWS = 120_000
CORES = min(8, len(os.sched_getaffinity(0)))
MIN_SPEEDUP = CORES / 4


@pytest.fixture(scope="module")
def splittable_parquet(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("scaling") / "pay.parquet")
    # ~8k per string x 120k rows over 16 row groups; text payload so the
    # sha2/md5 chain in the probe has real bytes to chew on
    pay = pa.array([f"row-{i:07d}-" + "abcdefgh" * 8 for i in range(N_ROWS)])
    papq.write_table(
        pa.table({"pay": pay}), p, row_group_size=N_ROWS // 16
    )
    return p


def _probe(cpus: int, path: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "scaling_probe.py"),
         str(cpus), path],
        capture_output=True, text=True, timeout=600, cwd=REPO,
    )
    lines = [l for l in proc.stdout.strip().splitlines() if l.startswith("{")]
    assert lines, f"probe cpus={cpus} produced no JSON: {proc.stderr[-1500:]}"
    return json.loads(lines[-1])


def test_scan_parallelizes_with_splittable_input(splittable_parquet):
    rn = _probe(CORES, splittable_parquet)
    # the read path must actually split the file into many scan tasks
    assert rn["scan_tasks"] >= CORES, f"expected a splittable scan, got {rn}"
    r1 = _probe(1, splittable_parquet)
    ratio = r1["sec"] / max(rn["sec"], 1e-9)
    if ratio < MIN_SPEEDUP:  # one retry pair: absorb a contention burst
        rnb, r1b = _probe(CORES, splittable_parquet), _probe(1, splittable_parquet)
        ratio = max(
            ratio, min(r1["sec"], r1b["sec"]) / max(min(rn["sec"], rnb["sec"]), 1e-9)
        )
    assert ratio >= MIN_SPEEDUP, (
        f"{CORES}-core run not {MIN_SPEEDUP:.2f}x faster than 1-core on a "
        f"16-row-group file: 1-core {r1['sec']}s vs {CORES}-core {rn['sec']}s "
        f"(ratio {ratio:.2f})"
    )
