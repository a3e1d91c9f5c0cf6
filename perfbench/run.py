#!/usr/bin/env python3
"""KG-construction benchmark: one workload, one seed, one fresh driver.

    python3 perfbench/run.py --workload events_hot --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --selfcheck

Run from the repository root.  Each run starts one Spark session
(``local[nproc]``), generates and writes its seeded inputs (set-up), runs
the timed unit of the workload, checks every output outside the timed
region and prints, as the last line of standard output, one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.  The line
before it carries the host record and the metrics' bases.  ``--trace 1``
enables the Spark event log and prints per-layer metrics instead of the
end-to-end ones.  See perfbench/README.md for every name.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path
from types import SimpleNamespace

from spans import layer_metrics, read_event_log

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK_ROOT = ROOT / ".perfbench_work"
WORKLOADS = ("events_hot", "synth_wide", "cdc_churn")
PROCESS_T0 = time.perf_counter()
STEAL_FLAG = 0.05  # a run with more CPU steal than this is flagged high_steal


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0, help="minimum measured time")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full")
    p.add_argument(
        "--corrupt", choices=("drop", "dup"),
        help="before the checks, drop one edge row, or add one edge row twice",
    )
    p.add_argument("--selfcheck", action="store_true", help="smoke-run every workload and mode")
    args = p.parse_args(argv)
    if not args.selfcheck and args.workload is None:
        p.error("--workload is required")
    return args


def prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    run's work directory, and let Python workers import the program."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)  # read at import by the session module
    # a driver heap that fits the host (a quarter of its RAM), as a
    # deployment sets --driver-memory: session.py's 24g default let the
    # driver JVM reach 15 GB RSS on a 16 GB host, at the same job time
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{ram_mb // 4}m"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.chdir(work)  # spark-warehouse/ lands here


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def program_id() -> str:
    """Hash of the program's source (knowledge_graph_spark/ and jobs/),
    so the store compares runs of the same code only."""
    h = hashlib.sha256()
    for top in ("knowledge_graph_spark", "jobs"):
        for p in sorted((ROOT / top).rglob("*")):
            if p.is_file() and "__pycache__" not in p.parts:
                h.update(p.relative_to(ROOT).as_posix().encode() + b"\0" + p.read_bytes())
    return h.hexdigest()[:12]


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user and nice
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def declared_units() -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for part in ("end_to_end", "per_layer") for m in spec[part]}


def end_to_end(res, setup_s: float) -> dict:
    return {
        "setup_s": setup_s,
        "turns_per_s": res.turns / statistics.median(res.walls),
        "store_bytes_per_turn": dir_bytes(res.output) / max(1, res.live_turns),
    }


def per_layer(res, ctx, event_log: Path, rss_mb: float) -> dict:
    spans = ctx.spans
    jobs, stage_tasks = read_event_log(event_log)
    vals = layer_metrics(spans, jobs, stage_tasks)
    stage_wall = sum(s["t1"] - s["t0"] for s in spans if s["kind"] == "stage")
    post_wall = sum(s["t1"] - s["t0"] for s in spans if s["kind"] == "checkpoint")
    folds = {op: [sec for o, sec in res.folds if o == op] for op in ("insert", "delete")}
    fold_wall = sum(sec for _, sec in res.folds)
    top = sum(s["t1"] - s["t0"] for s in spans if s["parent"] is None)
    traced_tps = res.turns / statistics.median(res.walls)
    untraced = read_untraced(ctx)
    vals.update(
        {
            "parse.records_in": 0, "parse.collapse": 0, "extract.chunks_in": 0,
            "extract.records_per_chunk": 0, "merge.max_description_bytes": 0,
            "retract_stream.delete_folds": 0, "retract_stream.segments_read": 0,
            **res.layer_counts,
            "checkpoint.scan_share": post_wall / stage_wall if stage_wall else 0,
            "retract_stream.insert_folds": len(folds["insert"]),
            "retract_stream.fold_insert_p50_s": statistics.median(folds["insert"] or [0]),
            "retract_stream.fold_delete_p50_s": statistics.median(folds["delete"] or [0]),
            "retract_stream.stream_overhead_s": (sum(res.walls) - fold_wall) if res.folds else 0,
            "job.unattributed_s": sum(res.walls) - top,
            # VmHWM varied by a third between CDC runs, so it is a traced
            # (per-layer) number, not an end-to-end bound
            "driver.peak_rss_mb": rss_mb,
            "trace.turns_per_s": traced_tps,
            "trace.untraced_runs": len(untraced),
            "trace.overhead_share": (
                1 - traced_tps / statistics.median(untraced) if untraced else 0
            ),
        }
    )
    return vals


def untraced_log(ctx) -> Path:
    return ctx.store / f"untraced-turns_per_s-{ctx.key}.jsonl"


def read_untraced(ctx) -> list[float]:
    path = untraced_log(ctx)
    if not path.exists():
        return []
    return [json.loads(line)["turns_per_s"] for line in path.read_text().splitlines() if line]


def run_one(args) -> int:
    for stale in WORK_ROOT.glob("run-*"):  # left by runs whose process has ended
        if not Path(f"/proc/{stale.name.rsplit('-', 1)[1]}").exists():
            shutil.rmtree(stale, ignore_errors=True)
    sys.path.insert(0, str(ROOT))
    job = ROOT / "jobs" / "run_pipeline.py"
    if importlib.util.find_spec("knowledge_graph_spark") is None or not job.is_file():
        print(f"perfbench: knowledge_graph_spark or {job} is missing under {ROOT}", file=sys.stderr)
        return 2
    work = WORK_ROOT / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    prepare_env(work)
    # imported after prepare_env: the session module reads SPARK_GRAFT_CPUS at import
    from knowledge_graph_spark.session import get_spark

    import workloads as wl

    nproc = len(os.sched_getaffinity(0))
    ctx = SimpleNamespace(
        root=ROOT, work=work, store=WORK_ROOT / "store", workload=args.workload,
        size=args.size, sizes=wl.SIZES[args.workload][args.size], seed=args.seed,
        seconds=args.seconds, trace=bool(args.trace), corrupt=args.corrupt,
        master=f"local[{nproc}]", spans=[],
    )
    # names what the store keeps: the program's source and the workload's
    # input sizes (not a size label)
    ctx.key = "-".join(
        [program_id(), ctx.workload] + [f"{k}{v}" for k, v in sorted(ctx.sizes.items())]
    )
    load_before = os.getloadavg()
    cpu_before = cpu_times()
    event_log = work / "eventlog"
    extra = None
    if ctx.trace:
        event_log.mkdir()
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    # the same session the job's own get_spark call then reuses
    app = "kg-construct" if args.workload in wl.BATCH else "knowledge_graph_spark"
    t0 = time.perf_counter()
    spark = get_spark(app_name=app, master=ctx.master, extra_conf=extra)
    session_s = time.perf_counter() - t0
    try:
        if args.workload in wl.BATCH:
            gen_reps, inputs = wl.setup_batch(spark, args.workload, ctx.sizes, args.seed, work)
            res = wl.run_batch(spark, ctx, inputs)
        else:
            gen_reps, inputs = wl.setup_cdc(spark, ctx.sizes, args.seed, work)
            res = wl.run_cdc(spark, ctx, inputs)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024
        host = {
            "nproc": nproc,
            "loadavg_before": load_before,
            "loadavg_after": os.getloadavg(),
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "spark": spark.version,
            "python": platform.python_version(),
        }
        # the 1-minute load before the run is other processes' (and the
        # previous run's decaying) load; after the run it includes our own
        host["overloaded"] = host["loadavg_before"][0] > nproc
        # CPU time the hypervisor gave to other guests during the run: the
        # loadavg does not see it, and it slows every timed metric
        steal, total = (a - b for a, b in zip(cpu_times(), cpu_before))
        host["cpu_steal_share"] = steal / max(1, total)
        host["high_steal"] = host["cpu_steal_share"] > STEAL_FLAG
        metrics = None
        if res.walls and not ctx.trace:
            metrics = end_to_end(res, session_s + statistics.median(gen_reps))
    finally:
        stop_spark(spark)
    if res.walls and ctx.trace:
        metrics = per_layer(res, ctx, event_log, rss_mb)

    failed = res.failed
    units = declared_units()
    fold_p50 = {
        op: [statistics.median(s), len(s)] if s else None
        for op in ("insert", "delete")
        for s in [[sec for o, sec in res.folds if o == op]]
    }
    report = {
        "workload": args.workload, "seed": args.seed, "size": args.size, "trace": args.trace,
        "host": host, "turns": res.turns, "live_turns": res.live_turns,
        "units": len(res.walls), "unit_walls_s": res.walls,
        "fold_insert_p50_s_and_n": fold_p50["insert"],
        "fold_delete_p50_s_and_n": fold_p50["delete"],
        "peak_rss_mb": rss_mb,
        "error_rate": [failed / max(1, res.attempted), failed, res.attempted],
        "setup_s_parts": {"session": session_s, "inputs_reps": gen_reps},
        "checks_s": res.checks_s,
        "process_s": time.perf_counter() - PROCESS_T0,
        "failures": res.failures,
    }
    print(json.dumps({"perfbench": report}))
    if metrics and not ctx.trace and not ctx.corrupt and not failed:
        ctx.store.mkdir(parents=True, exist_ok=True)
        with open(untraced_log(ctx), "a") as f:
            f.write(json.dumps({"seed": args.seed, "turns_per_s": metrics["turns_per_s"]}) + "\n")
    print(
        json.dumps(
            {
                "correct": failed == 0 and bool(res.walls),
                "attempted": max(1, res.attempted),
                "failed": failed if res.walls else max(1, failed),
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in (metrics or {}).items()},
            }
        )
    )
    os.chdir(ROOT)
    shutil.rmtree(work, ignore_errors=True)
    return 0


def selfcheck() -> int:
    """Smoke-run every workload with the checks on, confirm a corrupted
    output fails its check, and confirm both modes print exactly the
    metric names BENCHMARK.json declares."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {
        0: {m["name"] for m in spec["end_to_end"]},
        1: {m["name"] for m in spec["per_layer"]},
    }
    cases = [(w, 0, None, True) for w in WORKLOADS]
    cases += [(w, 1, None, True) for w in ("events_hot", "cdc_churn")]
    cases += [(w, 0, c, False) for w in ("events_hot", "cdc_churn") for c in ("drop", "dup")]
    bad = 0
    for workload, trace, corrupt, expect in cases:
        cmd = [
            sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
            "--seconds", "1", "--trace", str(trace), "--size", "smoke",
        ] + (["--corrupt", corrupt] if corrupt else [])
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else {}
        report = json.loads(lines[-2]).get("perfbench", {}) if len(lines) > 1 and result else {}
        names = set(result.get("metrics", {}))
        ok = result.get("correct") is expect and (not expect or names == want[trace])
        bad += not ok
        print(
            f"{'ok  ' if ok else 'FAIL'} {workload} trace={trace} corrupt={corrupt}: "
            f"correct={result.get('correct')} failed={result.get('failed')}"
            + ("" if names == want[trace] or not expect else f" names differ: {names ^ want[trace]}")
            + (f" ({'; '.join(report.get('failures', []))})" if corrupt else "")
        )
        if not ok:
            print(proc.stderr[-3000:], file=sys.stderr)
    return 1 if bad else 0


def main(argv=None) -> int:
    args = parse_args(argv)
    return selfcheck() if args.selfcheck else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
