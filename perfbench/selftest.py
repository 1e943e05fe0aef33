"""Self-test: every workload end to end on a tiny seeded input.

Run from the root of a checkout:

    python3 perfbench/selftest.py

Checks that the generator is deterministic (same seed, same bytes;
other seed, other bytes), then runs each workload of BENCHMARK.json
once untraced and once traced at a small input size
and asserts that the result line holds every metric BENCHMARK.json
names, with its unit, and that no operation failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SIZE = "0.25"
SECONDS = "1"


def check_generator() -> None:
    import gen

    with tempfile.TemporaryDirectory(dir=".") as tmp:
        digests = []
        for i, seed in enumerate((7, 7, 8)):
            root = os.path.join(tmp, str(i))
            gen.build_query_mix(root, seed, 0.05)
            gen.build_corpus_prep(root, seed, 0.05)
            digests.append(gen.digest_dir(root))
    assert digests[0] == digests[1], "same seed gave different inputs"
    assert digests[0] != digests[2], "different seeds gave the same inputs"


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", SECONDS, "--trace", str(trace), "--size", SIZE]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, f"{workload}: exit {out.returncode}\n{out.stderr[-3000:]}"
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check_generator()
    for name in [w["name"] for w in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(name, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{name} trace={trace}: metrics differ: {set(got) ^ set(want)}"
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            if trace == 0:
                zero = [k for k, v in res["metrics"].items() if not v["value"] > 0]
                assert not zero, f"{name}: end-to-end metrics not above 0: {zero}"
            print(f"ok {name} trace={trace}: {len(got)} metrics, "
                  f"{res['attempted']} ops", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
