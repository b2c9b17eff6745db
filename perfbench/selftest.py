#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size.

Run from the repository root::

    python3 perfbench/selftest.py

Checks that the correctness check catches a deliberately corrupted output
row, that every metric BENCHMARK.json names is printed with its unit for
every workload in both modes, and that the traced chain deltas sum to the
chain total.  Exits 0 when all of that holds.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import layers, run, workloads  # noqa: E402

#: documents per workload: enough for every route and a few pairs
TINY = {"crawl_mix": 60, "pdf_archive": 20, "resume_tail": 60, "curation_chain": 40}


def check_corruption_is_caught() -> None:
    from markmuse_spark.sources import corpus

    golden = {g["url"]: g for g in (corpus.make_golden_row(i, 1) for i in range(12))}
    rows = [
        {
            "url": g["url"],
            "markdown": g["markdown"],
            "extracted_text": g["extracted_text"],
            "n_images": g["n_images"],
            "error": g["error_expected"],
        }
        for g in golden.values()
    ]
    want = set(golden)
    assert workloads.parity_failures(rows, golden, want) == []
    victim = next(r for r in rows if r["markdown"])
    victim["markdown"] += " "
    assert workloads.parity_failures(rows, golden, want) == [victim["url"]]
    assert workloads.parity_failures(rows[1:], golden, want) == sorted(
        {rows[0]["url"], victim["url"]}
    )
    keep = [{"url": u, "canon_url": u, "n_chars": 5} for u in sorted(want)[:3]]
    bad = [dict(keep[0], n_chars=6)] + keep[1:]
    assert workloads.keeplist_failures(keep, keep) == []
    assert workloads.keeplist_failures(bad, keep) == [keep[0]["url"]]


def check_run(workload: str, trace: int, spec: dict) -> None:
    cmd = [
        sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
        "--seed", "1", "--seconds", "1", "--trace", str(trace),
        "--docs", str(TINY[workload]),
    ]
    out = subprocess.run(
        cmd, cwd=ROOT, capture_output=True, text=True, timeout=600, check=True
    ).stdout.splitlines()
    result = json.loads(out[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] and result["attempted"] >= 1, result
    want = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in want}, sorted(set(got) ^ {m["name"] for m in want})
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"], (m, got[m["name"]])
        assert math.isfinite(got[m["name"]]["value"]), m
        assert any(line.split()[:1] == [m["name"]] and line.split()[-1] == m["unit"]
                   for line in out), f"{m['name']} not printed with its unit"
    if trace:
        curation = workload == "curation_chain"
        names = layers.CURATION if curation else layers.CHAIN
        total = got["curation.total_s" if curation else "plans.pipeline.chain_total_s"]["value"]
        parts = sum(got[n]["value"] for n in names)
        assert total > 0 and math.isclose(parts, total, rel_tol=1e-9), (parts, total)


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    check_corruption_is_caught()
    print("ok  corrupted output row is caught")
    for workload in run.WORKLOADS:
        for trace in (0, 1):
            check_run(workload, trace, spec)
            print(f"ok  {workload} trace={trace}: every metric printed with its unit")
    return 0


if __name__ == "__main__":
    sys.exit(main())
