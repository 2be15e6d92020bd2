"""Run-to-run steadiness: run the benchmark over several seeds and
summarize every metric (median, quartiles, sample count, spread).

    python3 perfbench/report.py --workload W --seeds 1 2 3 [--trace 0|1]

Spread is (q3 - q1) / median with ``statistics.quantiles(n=4)``.  For
end-to-end metrics it is printed next to the metric's bound in
``BENCHMARK.json``; the benchmark is steady when every spread stays
well within its bound (aim for a third of it).  Result lines are
appended to ``.perfbench_work/report-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.metrics import summarize  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def table(lines: list[dict], bounds: dict[str, float]) -> str:
    names = list(lines[0]["metrics"])
    out = [f"{'metric':<36}{'unit':>8}{'median':>14}{'q1':>14}{'q3':>14}{'n':>4}{'spread':>9}{'bound':>7}"]
    for name in names:
        values = [ln["metrics"][name]["value"] for ln in lines if name in ln["metrics"]]
        s = summarize(values)
        bound = bounds.get(name)
        out.append(
            f"{name:<36}{lines[0]['metrics'][name]['unit']:>8}{s['median']:>14.5g}"
            f"{s['q1']:>14.5g}{s['q3']:>14.5g}{s['n']:>4}{s['spread']:>9.4f}"
            + (f"{bound:>7.3f}" if bound is not None else f"{'-':>7}")
        )
    failed = sum(ln["failed"] for ln in lines)
    attempted = sum(ln["attempted"] for ln in lines)
    out.append(f"jobs failed / attempted: {failed} / {attempted} = {failed / attempted:.4f}")
    return "\n".join(out)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    bench = _bench()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    log = os.path.join(ROOT, ".perfbench_work", f"report-{args.workload}.jsonl")
    lines = []
    for seed in args.seeds:
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=False)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            continue
        line = json.loads(proc.stdout.strip().splitlines()[-1])
        for info in proc.stderr.splitlines():
            if info.startswith("perfbench:"):
                print(f"seed {seed}: {info}", file=sys.stderr)
        lines.append(line)
        with open(log, "a") as f:
            f.write(json.dumps(line) + "\n")
        print(f"seed {seed}: " + " ".join(
            f"{k}={v['value']:.5g}" for k, v in line["metrics"].items()
            if k in bounds or args.trace), file=sys.stderr)
    if not lines:
        return 1
    print(table(lines, bounds))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
