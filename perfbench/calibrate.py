"""Calibration of the generated ``corpus_build`` tables against reference
tables: table shapes, and per key the output rows, eager build jobs,
Spark jobs and seconds, plus the build phase's share of the pass wall.

    python3 perfbench/calibrate.py --reference <tables dir> [--reference <dir>] \
        [--generate 0.01] [--repeat 2] [--out perfbench/CALIBRATION.md]

A reference directory holds the same ``<table>.parquet`` files the
generator writes (the repo's test tables, see TESTDATA.md). Every target
is measured ``--repeat`` times, each time in a fresh Spark session, with
the traced run's own instruments (``tracing.py``, ``layers.py``): the
same warm-up as ``corpus_build``, then one traced pass over its keys.
Run it from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

import run
from tracing import job_group

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


class TablesBench(run.Bench):
    """``corpus_build`` whose timed pass reads a given tables directory."""

    def __init__(self, tables: str, tmp: str):
        super().__init__("corpus_build", 0, 0.0, True, tmp)
        self.tables = tables

    def land_tables(self, sf: float) -> str:
        return self.tables if sf == run.TABLES_SF else super().land_tables(sf)


def shapes(tables: str) -> dict[str, float]:
    """The distributions the keys' work depends on, read with PyArrow."""
    def read(name, *cols):
        return pq.read_table(os.path.join(tables, f"{name}.parquet"), columns=list(cols))

    out = {f"rows: {t}": pq.ParquetFile(os.path.join(tables, f"{t}.parquet")).metadata.num_rows
           for t in TABLES}
    text = read("documents", "text", "lang")
    words = pc.split_pattern(text["text"], " ")
    out["documents: exact-duplicate texts"] = (
        text.num_rows - pc.count_distinct(text["text"]).as_py())
    texts = set(text["text"].to_pylist())
    out["documents: texts that are another text + ' dup'"] = sum(
        t.endswith(" dup") and t[:-4] in texts for t in texts)
    out["documents: distinct words"] = pc.count_distinct(pc.list_flatten(words)).as_py()
    out["documents: median words per text"] = statistics.median(
        pc.list_value_length(words).to_pylist())
    out["documents: share lang en"] = round(
        pc.sum(pc.equal(text["lang"], "en")).as_py() / text.num_rows, 3)
    out["events: distinct user_id"] = pc.count_distinct(
        read("events", "user_id")["user_id"]).as_py()
    out["part: distinct p_name"] = pc.count_distinct(read("part", "p_name")["p_name"]).as_py()
    li = read("lineitem", "l_orderkey", "l_partkey")
    per_order = li.group_by("l_orderkey").aggregate([("l_partkey", "count")])
    out["lineitem: orders with lines"] = per_order.num_rows
    out["lineitem: median lines per order"] = statistics.median(
        per_order["l_partkey_count"].to_pylist())
    out["embeddings: distinct labels"] = pc.count_distinct(
        read("embeddings", "label")["label"]).as_py()
    return out


def measure(tables: str) -> dict:
    """One fresh process and session, as a benchmark run: the
    ``corpus_build`` warm-up, one traced pass, then the outputs."""
    tmp = run.hermetic_env()
    try:
        from checks import digest
        from layers import layer_metrics
        from tracing import StreamListener, Tracer

        bench = TablesBench(tables, tmp)
        bench.tracer = Tracer()
        bench.tracer.install()  # before the harness modules import load_tables
        bench.listener = StreamListener(bench.tracer)
        event_log = os.path.join(tmp, "eventlog")
        bench.session_start_s = bench.start_session(event_log)
        try:
            run_pass = bench.corpus_setup()
            bench.tracer.enabled = True
            ps = run_pass(0)
            bench.tracer.enabled = False
            outputs = {}
            for op in ps.ops:
                bench.spark.sparkContext.setJobGroup(job_group(op.id, "check"), op.key)
                outputs[op.key] = {"error": op.error} if op.error else digest(op.output)
                op.output = None
        finally:
            bench.stop_session()
        metrics, per_op = layer_metrics(bench, [ps], event_log, 0.0, 0.0, ps.wall)
    finally:
        run.shutdown_jvm()
        shutil.rmtree(tmp, ignore_errors=True)
    build_s = metrics["harness.build_s"]["value"]
    return {"wall_s": ps.wall, "build_s": build_s, "build_share": build_s / ps.wall,
            "per_op": per_op, "outputs": outputs}


def measure_in_child(tables: str) -> dict:
    out = subprocess.run([sys.executable, os.path.abspath(__file__), "--measure", tables],
                         stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def report(command: str, targets: list[tuple[str, str]], runs: dict[str, list[dict]],
           shape: dict[str, dict]) -> str:
    labels = [label for label, _ in targets]
    lines = [
        "# Calibration of the generated tables",
        "",
        f"Made by `{command}` (see its docstring). Each run is a fresh process:",
        "the `corpus_build` warm-up, then one traced pass over its keys. Targets:",
        "",
    ]
    lines += [f"* `{label}`: {where}" for label, where in targets]
    lines += ["", "## Table shapes", "", "| | " + " | ".join(labels) + " |",
              "|---|" + "---|" * len(labels)]
    for stat in shape[labels[0]]:
        lines.append(f"| {stat} | " + " | ".join(str(shape[lb][stat]) for lb in labels) + " |")

    cols = [(lb, i) for lb in labels for i in range(len(runs[lb]))]
    head = "| key | " + " | ".join(f"{lb} #{i + 1}" for lb, i in cols) + " |"
    rule = "|---|" + "---|" * len(cols)

    def table(title: str, cell, flag: bool = False) -> None:
        """One row per key; with ``flag``, mark a key whose value is not
        the same in every repeat of one target."""
        lines.extend(["", f"## {title}", "", head + (" |" if flag else ""),
                      rule + ("---|" if flag else "")])
        for key in run.CORPUS_KEYS:
            cells = {(lb, i): cell(runs[lb][i], key) for lb, i in cols}
            differs = any(len({cells[lb, i] for i in range(len(runs[lb]))}) > 1
                          for lb in labels)
            lines.append(f"| `{key}` | " + " | ".join(cells.values()) + " |"
                         + (" **differs** |" if flag and differs else " |" if flag else ""))

    def rows(r, key):
        out = r["outputs"][key]
        if "error" in out:
            return "error"
        exp = r.get("expected", {}).get(key)
        mark = "" if exp is None else " (=expected)" if exp == out else " (!=expected)"
        return f"{out['rows']}{mark}"

    table("Output rows", rows)
    table("harness.build_jobs (eager Spark jobs while the key's function runs)",
          lambda r, k: str(r["per_op"][k]["harness.build_jobs"]), flag=True)
    table("spark.jobs", lambda r, k: str(r["per_op"][k]["spark.jobs"]), flag=True)
    table("Seconds", lambda r, k: f"{r['per_op'][k]['seconds']:.2f}")
    lines += ["", "## Pass", "", head.replace("| key |", "| |"), rule]
    for name, fmt in (("wall_s", "{:.2f}"), ("harness.build_s", "{:.2f}"),
                      ("build share of wall", "{:.0%}")):
        field = {"wall_s": "wall_s", "harness.build_s": "build_s"}.get(name, "build_share")
        lines.append(f"| {name} | " + " | ".join(fmt.format(runs[lb][i][field])
                                                 for lb, i in cols) + " |")
    lines.append("")
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--reference", action="append", default=[],
                    help="a directory of reference tables (repeatable)")
    ap.add_argument("--generate", action="append", type=float, default=None,
                    help=f"scale factor of generated tables (repeatable; default {run.TABLES_SF})")
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument("--out", default=os.path.join(run.HERE, "CALIBRATION.md"))
    ap.add_argument("--measure", help=argparse.SUPPRESS)  # one measurement, in a child
    args = ap.parse_args()
    if args.measure:
        print(json.dumps(measure(args.measure)))
        return 0

    from checks import load_expected
    from datagen import write_tables

    gen_root = os.path.join(run.ROOT, ".perfbench", "calibrate")
    shutil.rmtree(gen_root, ignore_errors=True)
    try:
        targets, dirs = [], {}
        for sf in args.generate or [run.TABLES_SF]:
            label = f"generated sf{sf:g}"
            dirs[label] = os.path.join(gen_root, f"sf{sf:g}")
            write_tables(dirs[label], sf, run.DATA_SEED)
            targets.append((label, f"`datagen.write_tables` at sf{sf:g}, data seed "
                                   f"{run.DATA_SEED}"))
        for ref in args.reference:
            label = f"reference {os.path.basename(os.path.normpath(ref))}"
            dirs[label] = ref
            targets.append((label, f"the reference tables in a directory named "
                                   f"`{os.path.basename(os.path.normpath(ref))}`"))
        shape = {label: shapes(d) for label, d in dirs.items()}
        runs: dict[str, list[dict]] = {label: [] for label, _ in targets}
        for rep in range(args.repeat):  # interleaved, so host drift hits every target
            for label, _ in targets:
                r = measure_in_child(dirs[label])
                if label == f"generated sf{run.TABLES_SF:g}":
                    r["expected"] = load_expected()["keys"]
                runs[label].append(r)
                print(f"{label} run {rep + 1}: wall {r['wall_s']:.2f} s, "
                      f"build share {r['build_share']:.0%}", file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(gen_root, ignore_errors=True)
    command = " ".join(
        ["python3 perfbench/calibrate.py"]
        + [f"--generate {sf:g}" for sf in args.generate or [run.TABLES_SF]]
        + [f"--reference .../{os.path.basename(os.path.normpath(r))}" for r in args.reference]
        + [f"--repeat {args.repeat}"])
    text = report(command, targets, runs, shape)
    with open(args.out, "w") as fh:
        fh.write(text)
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
