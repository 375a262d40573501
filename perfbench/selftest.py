"""Smoke test of the benchmark itself, on a tiny input.

    python3 perfbench/selftest.py

Checks that

* an untraced run prints every ``end_to_end`` metric of
  ``BENCHMARK.json`` with its unit, and a traced run every
  ``per_layer`` metric;
* both runs of the unchanged program are correct: every turn written
  once with the expected status and text;
* falsifying one expected text makes ``text_equality_rate`` < 1 and
  ``failed_ratio`` > 0, so the correctness check cannot pass silently.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import sys

import run

SEED = 7
SIZE = 640  # ten Arrow batches: enough kernel time for the layer-sum check


def _expect(ok: bool, what: str) -> None:
    print(("ok    " if ok else "FAIL  ") + what)
    if not ok:
        sys.exit(1)


def main() -> None:
    run._environment()
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for trace, section in ((False, "end_to_end"), (True, "per_layer")):
        for workload in (w["name"] for w in spec["workloads"]):
            result, rates = run.bench(workload, SEED, 0, trace, size=SIZE)
            want = {m["name"]: m["unit"] for m in spec[section]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            _expect(got == want, f"{workload} trace={int(trace)}: every {section} "
                                 f"metric printed with its unit")
            _expect(result["correct"] and result["failed"] == 0
                    and rates["text_equality_rate"]["value"] == 1.0,
                    f"{workload} trace={int(trace)}: all {result['attempted']} "
                    f"checked turns correct")
    result, rates = run.bench(spec["workloads"][0]["name"], SEED, 0, False,
                              size=SIZE, corrupt=1)
    _expect(rates["text_equality_rate"]["value"] < 1
            and rates["failed_ratio"]["value"] > 0 and not result["correct"],
            "one falsified expected text is caught "
            f"(text_equality_rate {rates['text_equality_rate']['value']:.4f}, "
            f"failed_ratio {rates['failed_ratio']['value']:.4f})")


if __name__ == "__main__":
    main()
