"""Run one benchmark workload and print its metrics.

    python3 cdcbench/run.py --workload replay_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints each metric by name with its unit,
the correctness result, and as the last line one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The full record
(host, provenance, warm-up evidence, per-round checks, and for traced runs
the spans and per-layer table) is written under `.cdcbench/results/`.
Exits non-zero without a result line when the engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("replay_bulk", "watch_trickle")


def _fmt(v) -> str:
    return f"{v:>14.4f}" if v is not None else f"{'n/a (no sample)':>14}"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import kafka_mongo_watcher_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"cdcbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    from cdcbench.harness import run

    rec = run(a.workload, a.seed, a.seconds, bool(a.trace), ROOT)
    section = rec["per_layer"] if a.trace else rec["end_to_end"]
    c = rec["correctness"]
    for name, m in rec["end_to_end"].items():
        print(f"{name:<28} {_fmt(m['value'])} {m['unit']}")
    d = rec["detail"]
    for name in ("lookup_ms_p50", "lookup_ms_p90"):
        print(f"{name:<28} {_fmt(d[name])} ms (record only)")
    if a.trace:
        print(f"dedup strategies: {rec['trace']['dedup_strategies']}")
        for name, m in section.items():
            print(f"{name:<44} {_fmt(m['value'])} {m['unit']}")
    print(f"oracle_mismatch_keys {c['oracle_mismatch_keys']}  "
          f"failed_op_ratio {c['failed_op_ratio']:.4f}  "
          f"({c['failed']}/{c['attempted']} ops failed)")
    print(json.dumps({
        "correct": c["oracle_mismatch_keys"] == 0,
        "attempted": c["attempted"],
        "failed": c["failed"],
        "metrics": section,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
