#!/usr/bin/env python3
"""kgtm benchmark: two workloads driven through kgtm's public functions.

    python3 perfbench/run.py --cores 3 --workload kg_append --seed 1 \
        --seconds 6 --trace 0

Run from the repository root. It starts a session with
``kgtm.session.get_spark``, builds the workload's inputs from ``--seed``,
discards the warm-up ops, then runs ops for ``--seconds`` (at least
``MIN_OPS`` of them) and checks every op's output. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics of BENCHMARK.json with ``--trace 0``, its
per-layer metrics with ``--trace 1``). The line before it carries the
details: host stamp, per-op wall and CPU, and the steady-op count behind
every median. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import probes  # noqa: E402

#: discarded warm-up ops per workload, read off perfbench/warmup_curve.json
WARMUP = {"kg_append": 2, "prep_dedup": 1}
#: fewest steady ops a run makes, however long they take. kg_append and
#: prep_dedup ops outlast a third (a half) of --seconds, so their runs make
#: exactly this many, at the same op indices of the warm-up tail every time
MIN_OPS = {"kg_append": 3, "prep_dedup": 2}
#: fewest traced ops a traced run makes
MIN_TRACED_OPS = 2
#: ops in a warm-up curve run (``--curve``), none of them discarded
CURVE_OPS = 16


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WARMUP))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=6)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=3, help="local[N] task slots")
    p.add_argument("--curve", default=None, metavar="JSON",
                   help=f"run {CURVE_OPS} ops with no warm-up and merge their "
                   "wall/CPU curve into this file")
    return p.parse_args(argv)


class Op:
    """Runs ops and records wall time, process-tree CPU and failures."""

    def __init__(self, fn):
        self.fn = fn

    def __call__(self, k: int) -> dict:
        c0, t0 = probes.tree_cpu_s(), time.perf_counter()
        rec = {"k": k, "items": 0, "error": None}
        try:
            rec["items"] = self.fn(k)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc()
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = probes.tree_cpu_s() - c0
        return rec


def steady_ops(run: Op, first: int, args, exhausted) -> list[dict]:
    """Ops from index ``first`` on, for ``--seconds`` (at least MIN_OPS) or
    exactly CURVE_OPS, stopping early only when the inputs run out."""
    ops, k, t0 = [], first, time.perf_counter()
    while not exhausted(k):
        if args.curve:
            if len(ops) >= CURVE_OPS:
                break
        elif len(ops) >= (MIN_TRACED_OPS if args.trace else MIN_OPS[args.workload]) and (
            time.perf_counter() - t0 >= args.seconds
        ):
            break
        ops.append(run(k))
        k += 1
    return ops


def end_to_end(ops: list[dict], setup_s: float) -> dict[str, float]:
    wall = sum(r["wall_s"] for r in ops)
    items = sum(r["items"] for r in ops)
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(r["wall_s"] for r in ops),
        "items_per_s": items / wall,
        "cpu_s_per_kitem": 1000 * sum(r["cpu_s"] for r in ops) / max(items, 1),
    }


def per_layer(layers: dict, groups: dict, base: dict) -> dict[str, float]:
    """Medians over the traced ops of every per-layer series, plus the
    event-log figures of each op's job group."""
    out = dict(base)
    for name, values in layers.items():
        if name not in ("op_span", "op_index") and values:
            out[name] = statistics.median(values)
    spark_rows = []
    for k, (t0, t1) in enumerate(layers["op_span"]):
        g = groups.get(f"op{layers['op_index'][k]}.op")
        if g:
            spark_rows.append({**g, "driver_gap_s": max(t1 - t0 - g["busy_s"], 0.0)})
    for key in ("cpu_s", "shuffle_write_mb", "spill_mb", "gc_s", "driver_gap_s"):
        if spark_rows:
            name = "spark.exec_cpu_s" if key == "cpu_s" else f"spark.{key}"
            out[name] = statistics.median(r[key] for r in spark_rows)
    for key in ("exchanges", "broadcasts", "python_evals"):
        if spark_rows:
            out[f"plan.{key}"] = statistics.median(r[key] for r in spark_rows)
    return out


def run(args, run_dir: Path, spec: dict) -> tuple[dict, dict]:
    t_begin = time.perf_counter()
    from kgtm.materialize import list_commits
    from kgtm.session import get_spark

    import workloads

    extra = {"spark.local.dir": str(run_dir / "local")}
    if args.trace:
        (run_dir / "events").mkdir()
        # one plain JSON-lines file: the harness parses it with the stdlib
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (run_dir / "events").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name=f"perfbench-{args.workload}", cores=args.cores, extra_conf=extra)
    start_s = time.perf_counter() - t_begin
    spark.sparkContext.setLogLevel("ERROR")
    try:
        host = probes.host_stamp(ROOT, spark, args.cores)
        n_warm = 0 if args.curve else WARMUP[args.workload]
        max_ops = n_warm + (
            CURVE_OPS if args.curve else MIN_OPS[args.workload] + math.ceil(args.seconds / 2)
        )
        w = workloads.make(args.workload, spark, run_dir, args.seed, max_ops)
        _, generate_s = workloads.timed(w.setup)
        exhausted = getattr(w, "exhausted", lambda k: False)

        jobs_tasks, retained = [], []  # per op, warm-up ops included

        def plain(k: int) -> int:
            w.group(f"op{k}.op")
            items = w.op(k)
            jobs_tasks.append(probes.group_jobs_tasks(spark, f"op{k}.op"))
            retained.append(probes.retained_mb(spark))
            return items

        run_op = Op(plain)
        warm = [run_op(k) for k in range(n_warm)]
        warmup_s = sum(r["wall_s"] for r in warm)
        setup_s = time.perf_counter() - t_begin

        layers = defaultdict(list)
        if args.trace:
            def traced(k: int) -> int:
                layers["op_index"].append(k)
                items = w.traced_op(k, layers)
                jobs_tasks.append(probes.group_jobs_tasks(spark, f"op{k}.op"))
                retained.append(probes.retained_mb(spark))
                return items

            run_op.fn = traced
        ops = steady_ops(run_op, n_warm, args, exhausted)
        finish = Op(lambda k: w.finish() or 0)(-1)
        commits = len(list_commits(w.store, spark)) if hasattr(w, "store") else 0
    finally:
        probes.stop_spark(spark)

    failed = sum(1 for r in warm + ops if r["error"]) + (1 if finish["error"] else 0)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": {**host, "load_end": probes.loadavg()},
        "setup": {"start_s": start_s, "generate_s": generate_s, "warmup_s": warmup_s},
        "warmup_ops": len(warm),
        "steady_ops": len(ops),
        "ops": [{k: r[k] for k in ("k", "wall_s", "cpu_s", "items", "error")} for r in warm + ops],
        "finish_error": finish["error"],
        "end_to_end": end_to_end(ops, setup_s),
    }
    if args.trace:
        groups = probes.read_event_log(probes.event_log_file(run_dir / "events"))
        base = {m["name"]: 0 for m in spec["per_layer"]}
        traced_jobs = jobs_tasks[len(warm):]
        base.update({
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "session.jobs_per_op": statistics.median(j for j, _ in traced_jobs),
            "session.tasks_per_op": statistics.median(t for _, t in traced_jobs),
            "session.retained_mb": retained[-1],
            "synth.generate_s": generate_s,
            "materialize.commits": commits,
        })
        layer_metrics = per_layer(layers, groups, base)
        detail["layers"] = dict(layers)
        # the full op alone, to set against an untraced run's op_p50_s
        detail["traced_op_p50_s"] = statistics.median(b - a for a, b in layers["op_span"])
        metrics = {m["name"]: {"value": layer_metrics[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        e2e = detail["end_to_end"]
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    detail["retained_mb"] = retained
    result = {
        "correct": failed == 0,
        "attempted": len(warm) + len(ops) + 1,
        "failed": failed,
        "metrics": metrics,
    }
    return result, detail


def write_curve(path: Path, detail: dict) -> None:
    """Merge this run's per-op curve into ``path``, one workload a line."""
    curves = json.loads(path.read_text()) if path.exists() else {}
    curves[detail["workload"]] = {
        "host": detail["host"],
        "seed": detail["seed"],
        "wall_s": [round(r["wall_s"], 3) for r in detail["ops"]],
        "cpu_s": [round(r["cpu_s"], 2) for r in detail["ops"]],
        "retained_mb": [round(x, 1) for x in detail["retained_mb"]],
    }
    lines = [f"  {json.dumps(w)}: {json.dumps(c)}" for w, c in sorted(curves.items())]
    path.write_text("{\n" + ",\n".join(lines) + "\n}\n")


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its session and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if not (ROOT / "kgtm" / "session.py").is_file():
        print(f"no kgtm package under {ROOT}: run from a repository checkout", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_run"
    run_dir = work / f"{args.workload}-s{args.seed}-{os.getpid()}"
    for sub in ("local", "tmp"):
        (run_dir / sub).mkdir(parents=True)
    # everything the session writes stays inside the run directory
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    sys.path.insert(0, str(ROOT))
    try:
        result, detail = run(args, run_dir, spec)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            work.rmdir()
        except OSError:  # another run still holds its directory
            pass
    if args.curve:
        write_curve(Path(args.curve), detail)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
