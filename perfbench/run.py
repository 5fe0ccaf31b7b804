"""The repository benchmark: one workload per invocation, in a fresh process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The seed drives the generated inputs and
the order of operations in each pass. With ``--trace 0`` the last stdout
line carries the end-to-end metrics; with ``--trace 1`` the event log and
the streaming listener are on, every other pass is traced (spans and job
tags), and the last line carries the per-layer metrics and the tracing
overhead. Every line before it is a human-readable report. See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import tracing as tr  # noqa: E402
from gen import generate  # noqa: E402
from worker import WORKLOADS  # noqa: E402

DRIVER_MEM = "2g"  # fits beside co-tenants on a 15 GB box; session.py defaults to 24g
DEADLINE_S = 175  # the whole invocation; the limit is 180 s
# C1 only: on a 4-core box, C2 kept recompiling Spark for six passes
# (cpu_s fell every pass), while C1 settles after the cold pass and was
# faster in all of them (warehouse_load: cold pass 28 s vs 37 s, then
# 9.4 s vs 10.8 s per pass)
JVM_OPTS = f"-Xms{DRIVER_MEM} -XX:TieredStopAtLevel=1 -XX:-UsePerfData"


def _session_pids(sid: int) -> list[int]:
    return [pid for pid, st in tr.proc_stats().items() if int(st[3]) == sid]


def _reap(sid: int) -> None:
    """Stop whatever the worker's session left running and wait for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.time() + 10
        while time.time() < deadline:
            pids = _session_pids(sid)
            if not pids:
                return
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)


def run_worker(repo: str, work: str, data: str, args, deadline: float) -> dict:
    trace = bool(args.trace)
    tmp, local, events = (os.path.join(work, d) for d in ("tmp", "spark-local", "eventlog"))
    for d in (tmp, local, events):
        os.makedirs(d)
    submit = [
        # a fixed heap (-Xms = -Xmx) keeps heap resizing out of the timings and RSS
        "--driver-java-options", f"{JVM_OPTS} -Djava.io.tmpdir={tmp}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        for k, v in (("enabled", "true"), ("dir", f"file://{events}"),
                     ("compress", "false"), ("rolling.enabled", "false")):
            submit += ["--conf", f"spark.eventLog.{k}={v}"]
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
        PYTHONPATH=os.pathsep.join(filter(None, (repo, os.environ.get("PYTHONPATH")))),
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
    )
    spec = dict(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=trace,
        repo=repo, data=data, scratch=work, event_log=events,
        out=os.path.join(work, "result.json"), t_spawn=time.time(),
    )
    with open(os.path.join(work, "spec.json"), "w") as f:
        json.dump(spec, f)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), os.path.join(work, "spec.json")],
        cwd=work, env=env, stdout=sys.stderr, start_new_session=True,
    )
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _reap(proc.pid)
        proc.wait()
    if code != 0 or not os.path.exists(spec["out"]):
        raise RuntimeError(f"worker {'timed out' if code is None else f'exited {code}'}")
    with open(spec["out"]) as f:
        return json.load(f)


def pass_times(r: dict) -> dict:
    """Wall-clock metrics of the untraced measured passes. They go in the
    report and in the per-layer set: on a shared host their run-to-run
    spread follows the host's speed, so they carry no bound."""
    per_op_median = [statistics.median(sum(v) for v in vs) for vs in r["per_op"].values()]
    return {
        "run.wall_s": (statistics.median(r["wall"]), "s"),
        "run.op_p50_s": (statistics.median(r["op_samples"]), "s"),
        "run.op_geomean_s": (math.exp(statistics.fmean(math.log(x) for x in per_op_median)), "s"),
    }


def end_to_end(r: dict) -> tuple[dict, list[str]]:
    metrics = {
        "setup_s": (r["setup_s"], "s"),
        "cpu_s": (statistics.median(r["cpu"]), "s"),
        "peak_rss_mb": (r["rss_mb"], "MB"),
        "lake_bytes_per_src_byte": (r["lake_bytes"] / r["src_bytes"], "ratio"),
    }
    notes = [
        f"session start {r['start_s']:.2f} s; warm-up {r['warmup_s']:.2f} s: the cold pass, then "
        "passes of " + " ".join(f"{w:.3f}" for w in r["warmup_wall"]) + " s",
        f"measured passes {len(r['wall'])} untraced, {len(r['traced_wall'])} traced; "
        f"op samples {len(r['op_samples'])}",
        "pass wall s: " + " ".join(f"{w:.3f}" for w in r["wall"]),
        "pass cpu s: " + " ".join(f"{c:.3f}" for c in r["cpu"]),
        f"host steal {100 * statistics.median(r['steal']):.1f}% of vCPU time in the median "
        "measured pass (a share above a few percent slows every time metric)",
        f"failed_frac {r['failed'] / r['attempted']:.4f} ({r['failed']} of {r['attempted']} operations)",
        f"lake {r['lake_bytes']} B over {r['src_bytes']} B of source tables read",
    ]
    notes += [f"  {name} = {v:.6g} {u} (untraced passes)" for name, (v, u) in pass_times(r).items()]
    notes += [f"  {op}: median {statistics.median(sum(v) for v in vs):.4f} s over {len(vs)}"
              for op, vs in sorted(r["per_op"].items())]
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, notes


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # turn a kill into SystemExit, so the finally blocks stop the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    repo = os.getcwd()
    missing = [p for p in ("etl_extractor_spark/pipeline.py", "tests/oracle.py")
               if not os.path.isfile(os.path.join(repo, p))]
    if missing:
        print(f"not a repository checkout (missing {', '.join(missing)}); "
              "run from the repository root", file=sys.stderr)
        return 2

    state = os.path.join(repo, ".perfbench")
    scratch = os.path.join(state, f"run-{os.getpid()}")
    deadline = time.time() + DEADLINE_S
    t0 = time.perf_counter()
    data, stats = generate(os.path.join(state, "data"), args.seed)
    print(f"inputs seed {args.seed} ready in {time.perf_counter() - t0:.2f} s:")
    for t, (rows, size) in stats.items():
        print(f"  {t}: {rows} rows, {size} bytes")
    try:
        r = run_worker(repo, scratch, data, args, deadline=deadline)
    except RuntimeError as exc:
        print(f"benchmark failed: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    metrics, notes = end_to_end(r)
    for e in r["errors"]:
        print(f"FAILED {e}")
    if args.trace:
        layers = r["layers"]
        wall = pass_times(r)
        layers.update({k: {"value": v, "unit": u} for k, (v, u) in wall.items()})
        traced_wall = statistics.median(r["traced_wall"])
        layers["trace_overhead"] = {"value": traced_wall / wall["run.wall_s"][0], "unit": "ratio"}
        notes.append(f"trace_overhead = traced passes {traced_wall:.4f} s "
                     f"/ untraced passes {wall['run.wall_s'][0]:.4f} s (median wall)")
        metrics = layers
    print(f"workload {args.workload}, seed {args.seed}, {'traced' if args.trace else 'untraced'}:")
    for line in notes:
        print(line)
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
