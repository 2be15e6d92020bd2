"""The engine's benchmark: one command, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload star_etl|llm_dedup --seed N
                             --seconds S --trace 0|1

Load model: one closed-loop client.  One Python process drives one
``local[<all cores>]`` session and submits jobs one after another.

A run generates the workload's inputs from ``--seed`` into
``.perfbench_work/`` (not timed), then

- ``--trace 0``: starts the worker, a fresh process timed from start
  to a usable session (``setup_s``).  It runs one cold pass, then warm
  passes for ``--seconds`` and at least four, checking every job's
  output against DuckDB.  The last line printed is the end-to-end
  metrics: ``setup_s`` and ``rows_per_s`` (input rows of one pass
  over the best warm pass: the sum over jobs of each job's fastest
  warm time).  The cold pass is reported per layer.  Failed or mismatched
  jobs count in ``failed``; their share of ``attempted`` is the
  failed-job ratio.
- ``--trace 1``: one worker whose warm passes alternate untraced and
  traced, then drains the workload's stream backlog.  The last line is
  the per-layer metrics; the spans go to ``.perfbench_work/``.

Exits non-zero, printing no result, when the engine is not next to
this directory or a run cannot finish.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
RUN_LIMIT_S = 170.0

sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402
from perfbench.gen import SIZES, generate  # noqa: E402


def _child_env(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=ROOT,
    )
    return env


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of a child's process group (its JVM and Python
    workers) and wait until every member has ended."""
    try:
        os.killpg(proc.pid, signal.SIGTERM)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 15
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    time.sleep(0.5)


def _spawn(args: list[str], work: str, deadline: float) -> tuple[float, int]:
    """Run ``worker.py args`` in its own process group, logging to
    ``worker.log``; return (seconds from start to its READY line, exit
    code)."""
    log = open(os.path.join(work, "worker.log"), "w")
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *args],
        cwd=work, env=_child_env(work), stdout=subprocess.PIPE, stderr=log,
        text=True, start_new_session=True,
    )
    ready = None
    try:
        for line in proc.stdout:
            if line.strip() == "READY":
                ready = time.perf_counter() - t0
                break
        # drain anything else on stdout so the child never blocks on a full pipe
        proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        code = proc.returncode
    except subprocess.TimeoutExpired:
        code = -1
    finally:
        _stop_group(proc)
        log.close()
    if ready is None:
        code = code or -2
    return ready or 0.0, code


def _fail(msg: str, work: str | None = None) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    if work:
        path = os.path.join(work, "worker.log")
        if os.path.exists(path):
            with open(path) as f:
                tail = f.read()[-3000:]
            print(f"--- worker.log (tail) ---\n{tail}", file=sys.stderr)
    return 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_LIMIT_S
    # on SIGTERM unwind through the finally blocks, which stop the worker's processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for needed in ("mapreduceimpl_spark/__init__.py", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, needed)):
            return _fail(f"engine not found: {needed} is missing next to perfbench/")

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        t_start = time.monotonic()
        manifest = generate(args.workload, args.seed, data)
        t_gen = time.monotonic()
        result_path = os.path.join(work, "result.json")
        ready, code = _spawn(
            ["--workload", args.workload, "--data", data, "--work", work,
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--result", result_path],
            work, deadline,
        )
        if code != 0:
            return _fail(f"worker exited with {code}", work)
        t_end = time.monotonic()
        with open(result_path) as f:
            result = json.load(f)
        with open(os.path.join(work, "worker.log")) as f:
            for line in f:
                if line.startswith("perfbench-worker:"):
                    print(line.rstrip(), file=sys.stderr)
        walls = ", ".join(f"{p['wall_s']:.2f}" for p in result["passes"])
        print(f"perfbench: generate {t_gen - t_start:.1f}s, processes {t_end - t_gen:.1f}s, "
              f"set-up {ready:.2f}s, passes {walls}s",
              file=sys.stderr)

        if args.trace:
            spans_path = os.path.join(work, "spans.json")
            with open(spans_path) as f:
                spans = json.load(f)
            values = metrics.per_layer(result, manifest, spans)
            shutil.copy(spans_path, os.path.join(WORK_ROOT, f"trace-{args.workload}-{args.seed}.json"))
            print(metrics.entry_table(result, spans))
        else:
            values = metrics.end_to_end(result, manifest, args.workload, ready)
        for failure in result["failures"]:
            print(f"FAILED {failure}", file=sys.stderr)
        print(json.dumps(metrics.result_line(result, values)))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
