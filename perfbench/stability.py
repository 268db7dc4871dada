"""Count-stability report: run the traced run twice per workload with the
same seed and list each op's counts side by side, flagging every op
whose counts differ between the two runs. A count that differs cannot
carry a count-based claim.

    python3 perfbench/stability.py [--seed 7] [--out perfbench/STABILITY.md]

Run it from the root of a checkout; it takes two traced runs per workload.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import run

COUNTS = ["harness.build_jobs", "spark.jobs", "spark.stages", "streaming.batches"]


def traced_per_op(workload: str, seed: int) -> dict:
    subprocess.run(
        [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "10", "--trace", "1"],
        check=True, stdout=subprocess.DEVNULL,
    )
    path = os.path.join(run.ROOT, ".perfbench", "traces", f"{workload}-seed{seed}.json")
    with open(path) as fh:
        return json.load(fh)["per_op"]


def report(seed: int) -> str:
    lines = [
        "# Count stability of the traced run",
        "",
        f"Two traced runs per workload, made by `python3 perfbench/stability.py --seed {seed}`.",
        "Each cell is `first / second`; **differs** marks an op whose counts",
        "are not the same in both runs, so they cannot support a count-based claim.",
        "CALIBRATION.md repeats every `corpus_build` key on sf0.01 and sf0.1 tables;",
        "a key flagged there cannot support one either, even where it repeats here.",
        "",
    ]
    for name in run.WORKLOADS:
        a, b = traced_per_op(name, seed), traced_per_op(name, seed)
        lines += [f"## {name}", "", "| op | " + " | ".join(COUNTS) + " | |",
                  "|---|" + "---|" * (len(COUNTS) + 1)]
        for op in a:
            cells = [f"{a[op][c]} / {b[op][c]}" for c in COUNTS]
            flag = "**differs**" if any(a[op][c] != b[op][c] for c in COUNTS) else ""
            lines.append(f"| `{op}` | " + " | ".join(cells) + f" | {flag} |")
        lines.append("")
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--out", default=os.path.join(run.HERE, "STABILITY.md"))
    args = ap.parse_args()
    text = report(args.seed)
    with open(args.out, "w") as fh:
        fh.write(text)
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
