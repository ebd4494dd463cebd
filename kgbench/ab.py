"""Interleaved A/B of two checkouts with the same benchmark code.

    python3 kgbench/ab.py --a ../parent --b . --workload kg_batch \\
        --seeds 1,2,3,4,5,6,7,8,9,10 --seconds 6

Each seed is one pair: both checkouts run ``kgbench/run.py`` with that
seed, and the side that goes first alternates from pair to pair. For every
end-to-end metric the script prints each side's median and quartiles, how
many pairs B won, and whether the pairs meet the gain rule: B wins at
least nine tenths of the pairs and the medians differ by more than the
distance between A's quartiles.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys


def _bench_digest(checkout: str) -> str:
    h = hashlib.sha256()
    bench = os.path.join(checkout, "kgbench")
    for fn in sorted(os.listdir(bench)):
        if fn.endswith(".py"):
            with open(os.path.join(bench, fn), "rb") as fh:
                h.update(fn.encode() + fh.read())
    return h.hexdigest()


def _run(checkout: str, args, seed: int) -> dict:
    cmd = [
        sys.executable,
        "kgbench/run.py",
        "--workload", args.workload,
        "--seed", str(seed),
        "--seconds", str(args.seconds),
        "--trace", "0",
    ]
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--a", required=True, help="baseline checkout")
    ap.add_argument("--b", required=True, help="candidate checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated, one pair each")
    ap.add_argument("--seconds", type=int, default=6)
    args = ap.parse_args()
    a, b = os.path.abspath(args.a), os.path.abspath(args.b)
    if _bench_digest(a) != _bench_digest(b):
        print("kgbench/*.py differ between the checkouts", file=sys.stderr)
        return 2
    with open(os.path.join(b, "BENCHMARK.json")) as fh:
        spec = {m["name"]: m for m in json.load(fh)["end_to_end"]}

    pairs = []
    for i, seed in enumerate(int(s) for s in args.seeds.split(",")):
        order = [("a", a), ("b", b)] if i % 2 == 0 else [("b", b), ("a", a)]
        pair = {side: _run(path, args, seed) for side, path in order}
        pairs.append(pair)
        print(json.dumps({"seed": seed, "first": order[0][0], **pair}), flush=True)

    for name, m in spec.items():
        va = [p["a"]["metrics"][name]["value"] for p in pairs]
        vb = [p["b"]["metrics"][name]["value"] for p in pairs]
        lower = m["better"] == "lower"
        wins = sum((y < x) if lower else (y > x) for x, y in zip(va, vb))
        qa = statistics.quantiles(va, n=4) if len(va) > 1 else [va[0]] * 3
        qb = statistics.quantiles(vb, n=4) if len(vb) > 1 else [vb[0]] * 3
        gain = wins >= 0.9 * len(pairs) and abs(qb[1] - qa[1]) > qa[2] - qa[0]
        print(
            f"{name}: A median {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]  "
            f"B median {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]  "
            f"B better in {wins}/{len(pairs)} pairs  gain={'yes' if gain else 'no'}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
