"""Steadiness helper: run one workload once per seed and print, for each
metric, its median, quartiles and quartile spread as a share of the
median, next to the bound recorded in BENCHMARK.json.

    python3 perfbench/steady.py --workload serve --seeds 1-10

Each run is untraced and measures for BENCHMARK.json's ``run_seconds``.
Runs are sequential (the benchmark uses every core). A spread must stay
within the metric's bound, and should stay below a third of it; the
spread of ``setup_s`` is reported but not held to its bound, which
applies to the change of its median between two sets of runs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import spread  # noqa: E402


def parse_seeds(text: str) -> list[int]:
    """``"1-5,9"`` → ``[1, 2, 3, 4, 5, 9]``."""
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
        raise SystemExit(f"seed {seed}: exit {proc.returncode}")
    return json.loads(lines[-1])


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args(argv)

    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in parse_seeds(args.seeds):
        t = time.monotonic()
        res = run_once(args.workload, seed, spec["run_seconds"])
        wall = time.monotonic() - t
        if not res["correct"]:
            raise SystemExit(f"seed {seed}: incorrect result {res}")
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed} ({wall:.0f} s): " + " ".join(
            f"{n}={m['value']:.4g}" for n, m in res["metrics"].items()
        ), flush=True)

    ok = True
    print(f"\n{'metric':<36}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}")
    for name, vs in values.items():
        st = spread(vs)
        bound = bounds.get(name)
        flag = ""
        if bound is not None:
            if name != "setup_s" and st["spread"] > bound:
                flag, ok = "  OVER BOUND", False
            elif st["spread"] > bound / 3:
                flag = "  above bound/3"
        print(f"{name:<36}{st['median']:>12.5g}{st['q1']:>12.5g}{st['q3']:>12.5g}"
              f"{st['spread']:>9.3f}{bound if bound is not None else '':>7}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
