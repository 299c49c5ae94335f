"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints progress on stderr and, as the last
line of stdout, one JSON object: correct, attempted, failed and the
metrics named in BENCHMARK.json (the end-to-end ones with --trace 0, the
per-layer ones with --trace 1). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent
WORKLOADS = ("extract_mix", "job_commit")


class Bench:
    def __init__(self, args, spec: dict):
        from perfbench.common import OUT, Tracer

        self.t0 = time.perf_counter()
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.spec = spec
        self.tracer = Tracer(self.trace)
        self.untraced = Tracer(False)
        self.trace_path = OUT / f"trace-{args.workload}-seed{args.seed}.json"

    def log(self, msg: str) -> None:
        print(f"[perfbench {time.perf_counter() - self.t0:7.2f}s] {msg}",
              file=sys.stderr, flush=True)

    def finish(self, correct, attempted, failed, e2e: dict, layers: dict) -> dict:
        """The result line. A traced run reports every per-layer metric;
        a layer this workload does not exercise reads 0."""
        from perfbench.common import result

        if not self.trace:
            return result(correct, attempted, failed, _pick(self.spec["end_to_end"], e2e))
        unknown = set(layers) - {m["name"] for m in self.spec["per_layer"]}
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        full = {
            m["name"]: layers.get(m["name"], (0, m["unit"]))
            for m in self.spec["per_layer"]
        }
        metrics = _pick(self.spec["per_layer"], full)
        self.tracer.write(self.trace_path, {k: v for k, (v, _) in metrics.items()})
        return result(correct, attempted, failed, metrics)


def _pick(declared: list[dict], got: dict) -> dict:
    out = {}
    for m in declared:
        value, unit = got[m["name"]]
        if unit != m["unit"]:
            raise ValueError(f"{m['name']}: unit {unit} != declared {m['unit']}")
        out[m["name"]] = (float(value), unit)
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not (ROOT / "engine" / "extract" / "core.py").is_file():
        print(f"no engine package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    # Spark's Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, str(ROOT))
    import importlib

    workload = importlib.import_module(f"perfbench.{args.workload}")
    out = workload.run(Bench(args, spec))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
