#!/usr/bin/env python3
"""Seeded benchmark of the Spark-native Korean full-text engine.

Run from the root of a checkout::

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

One run starts the program's Spark session at ``local[nproc]``, sets up
the workload from ``--seed``, measures it (``serve`` for ``--seconds``;
``offline`` for one cold pass, which outlasts it), checks the outputs
outside the timed region, and prints as its last stdout line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the run measures the workload
again with spans and the Spark event log on, and the metrics are the
per-layer ones. Layers a workload does not exercise report 0 and are
listed on a ``# not exercised`` line.

``--smoke`` runs every workload at toy size, both untraced and traced,
and asserts that every declared metric is emitted with its unit, that
the output checks ran and passed, and that every per-layer metric is
exercised by at least one workload.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PROGRAM = (ROOT / "mecab_ko_lucene_analyzer_spark", ROOT / "__spark_entry__.py")


def load_spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def measure(args, spec: dict) -> dict:
    sys.path.insert(0, str(ROOT))
    from perfbench.harness import Run
    from perfbench.spans import SPARK_FIELDS
    from perfbench.workloads import WORKLOADS, analysis_probe

    run = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace), args.toy)
    try:
        probe = analysis_probe(run) if args.trace else None
        e2e, layers_fn = WORKLOADS[args.workload](run)
        rss = run.peak_rss_mb()
        run.stop()
        if args.trace:
            layers = layers_fn()
            layers["process.peak_rss_mb"] = rss
            layers["analysis.docs_per_core_s"] = probe
            totals = run.spark_totals(*run.traced_phases())
            layers.update({f"spark.{k}": totals[k] for k in SPARK_FIELDS})
            if run.tracer.spans:
                out_dir = ROOT / ".perfbench_out"
                out_dir.mkdir(exist_ok=True)
                run.tracer.write(out_dir / f"spans-{args.workload}-{args.seed}.jsonl")
    finally:
        run.stop()
        run.cleanup()

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    measured = layers if args.trace else e2e
    unknown = sorted(set(measured) - {m["name"] for m in declared})
    if unknown:
        raise RuntimeError(f"undeclared metrics: {unknown}")
    idle = [m["name"] for m in declared if m["name"] not in measured]
    if idle:
        print(f"# not exercised by {args.workload}: {' '.join(idle)}")
    print(f"# checks run: {run.checks}")
    return {
        "correct": run.failed == 0 and run.checks > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            m["name"]: {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in declared
        },
    }


def smoke(spec: dict) -> int:
    """Toy-size pass over every workload, untraced and traced."""
    exercised: set[str] = set()
    problems = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", w["name"],
                   "--seed", "1", "--seconds", "1", "--trace", str(trace), "--toy"]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            lines = proc.stdout.strip().splitlines()
            tag = f"{w['name']} trace={trace}"
            print(f"{tag}: exit {proc.returncode} in {time.perf_counter() - t0:.1f}s", flush=True)
            if proc.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            declared = spec["per_layer"] if trace else spec["end_to_end"]
            want = {m["name"]: m["unit"] for m in declared}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metric names/units differ from BENCHMARK.json")
            if not res["correct"] or res["failed"]:
                problems.append(f"{tag}: outputs not correct: {lines[:-1]}")
            if not any(l.startswith("# checks run: ") and int(l.split()[-1]) > 0 for l in lines):
                problems.append(f"{tag}: no output checks ran")
            idle = next((l for l in lines if l.startswith("# not exercised")), "")
            idle_names = set(idle.split(": ", 1)[1].split()) if idle else set()
            exercised |= set(want) - idle_names
    never = sorted({m["name"] for m in spec["per_layer"]} - exercised)
    if never:
        problems.append(f"per-layer metrics no workload exercises: {never}")
    for p in problems:
        print(f"SMOKE FAIL {p}")
    print("smoke: ok" if not problems else f"smoke: {len(problems)} problem(s)")
    return 1 if problems else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="toy-size inputs")
    ap.add_argument("--smoke", action="store_true", help="toy pass over every workload")
    args = ap.parse_args(argv)

    if os.environ.get("PYTHONHASHSEED") != "0":
        # str hashing, and with it set and dict-of-set iteration order in
        # the program, the same in every run (the Python workers Spark
        # starts already use 0); exec keeps the process id
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])

    missing = [str(p) for p in PROGRAM if not p.exists()]
    if missing:
        print(f"perfbench: program sources not found: {missing}", file=sys.stderr)
        return 2
    spec = load_spec()
    if args.smoke:
        return smoke(spec)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        ap.error(f"--workload must be one of {names}")
    print(json.dumps(measure(args, spec)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
