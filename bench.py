"""Benchmark front over ``perfbench``: prints ONE JSON line.

    python bench.py

Runs ``perfbench/run.py --workload W --seed 1`` from the repository root
once per workload in ``BENCHMARK.json`` (``token_encode``, then ``query``;
about 3 min on a 4-core host).  Each run's last stdout line is its result
object and the line before it its detail object.  The printed line carries
``metric``/``value``/``unit`` (``token_encode``'s ``op_gmean_s``), and per
workload the end-to-end metrics ``BENCHMARK.json`` lists plus ``correct``.
The detail objects go to ``BENCH_DETAIL.json`` beside this script.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str) -> tuple[dict, dict]:
    """(detail, result) of one perfbench run."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1"],
        cwd=HERE, stdout=subprocess.PIPE, text=True, check=True,
    )
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def main() -> int:
    with open(os.path.join(HERE, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["end_to_end"]]
    payload: dict = {}
    details: dict = {}
    for wl in spec["workloads"]:
        details[wl["name"]], res = _run(wl["name"])
        metrics = res["metrics"]
        payload[wl["name"]] = {
            **{k: round(metrics[k]["value"], 4) for k in names},
            "correct": res["correct"],
        }
    with open(os.path.join(HERE, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(details, fh, indent=1, default=str)
    line = json.dumps({
        "metric": "token_encode_op_gmean_s",
        "value": payload["token_encode"]["op_gmean_s"],
        "unit": "s",
        **payload,
        "detail": "BENCH_DETAIL.json",
    })
    assert len(line) <= 1500, f"bench line too long ({len(line)} B)"
    print(line)
    return 0 if all(p["correct"] for p in payload.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
