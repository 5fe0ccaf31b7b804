"""One benchmark workload, run in a fresh process by ``run.py``.

    python3 perfbench/worker.py <spec.json>

The spec names the workload, seed, seconds, data set, scratch directory,
result path and whether to trace. The worker starts the session, imports
the query registry and runs one cold pass, whose outputs it checks. Then
it runs passes in a closed loop with one client: ``WARMUP`` warm-up
passes, then measured passes until ``seconds`` have passed and at least
``MIN_PASSES`` passes are measured.

In a traced run the tracer is on in every other pass (spans, job tags).
The event log and the streaming listener stay on for the whole process.
The per-layer numbers come from the traced passes, and the untraced
passes between them give the base of ``trace_overhead``. The worker
writes a JSON result with the raw samples and, when traced, the
per-layer numbers folded from the spans, the event log, the streaming
listener and /proc.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import tracing as tr  # noqa: E402

STAGES = ("stage_sources", "build_dimensions", "build_fact", "load_gold", "reconcile")
# a median needs more than one pass; a fixed floor keeps the pass count
# from changing between runs when one pass nearly fills the seconds
MIN_PASSES = 2
# warm-up passes after the cold pass. A fixed count puts the measured
# passes at the same place on the warm-up curve in every run; the pass
# after the cold one still compiles more than the later ones
WARMUP = 1
PIPELINE_SOURCES = ("customer", "part", "supplier", "orders", "lineitem", "events")


@dataclass(frozen=True)
class Workload:
    tables: tuple[str, ...]  # source tables read, the base of lake bytes
    ops: tuple[str, ...] = ()  # empty: the staged pipeline


WORKLOADS = {
    "warehouse_load": Workload(PIPELINE_SOURCES),
    "lakehouse_stream": Workload(("orders", "events"), (
        "manifest_snapshot_expiry", "streaming_funnel_replay", "streaming_dedup_replay",
    )),
}
ALL_OPS = tuple(op for w in WORKLOADS.values() for op in w.ops)


class _Collected:
    """A collected result in the shape ``tests/oracle.compare`` reads."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def _dir_bytes(path: str, skip=lambda name: False) -> int:
    total = 0
    for dirpath, dirnames, filenames in os.walk(path):
        if dirpath == path:
            dirnames[:] = [d for d in dirnames if not skip(d)]
            filenames = [f for f in filenames if not skip(f)]
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in filenames)
    return total


def _stage(path: str) -> str | None:
    """The pipeline stage a span path runs in; the jobs ``run_pipeline``
    starts itself, after ``load_gold``, are the ``reconcile`` step."""
    parts = path.split("/")
    if parts[0] != "pipeline.run_pipeline":
        return None
    return parts[1].split(".")[-1] if len(parts) > 1 else "reconcile"


def _duck(sql: str) -> tuple:
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(sql).fetchone()
    finally:
        con.close()


class Run:
    def __init__(self, spec: dict):
        self.spec = spec
        self.wl = WORKLOADS[spec["workload"]]
        self.data = spec["data"]
        self.scratch = spec["scratch"]
        self.tracer = tr.Tracer()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.passes: list[dict] = []  # measured passes only
        self.warmup: list[dict] = []  # warm-up passes after the cold one
        self.me = os.getpid()
        self.gold = None  # the cold pass's gold-fact hash
        self.lake_bytes = 0

    def fail(self, what: str, exc: BaseException | str) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {str(exc).splitlines()[0][:300] if str(exc) else type(exc).__name__}")

    # --- set-up ---------------------------------------------------------------
    def setup(self) -> None:
        from etl_extractor_spark.session import get_spark

        t0 = time.time()
        self.spark = get_spark(app_name=f"perfbench-{self.spec['workload']}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.time() - t0
        self.tracer.sc = self.spark.sparkContext
        from etl_extractor_spark.plans.registry import all_oracles, all_queries

        self.queries, self.oracles = all_queries(), all_oracles()
        if not self.wl.ops:
            # stage timers, in every pass: the op latencies of this workload are its stages
            self.tracer.always = {f"pipeline.{s}" for s in STAGES[:-1]} | {"pipeline.run_pipeline"}
        self.stream = None
        if self.spec["trace"]:
            self.tracer.patch()
            self.stream = tr.stream_progress_listener()
            self.spark.streams.addListener(self.stream)
        elif self.tracer.always:
            self.tracer.patch(self.tracer.always)
        self.ready_s = time.time() - self.spec["t_spawn"]
        t0 = time.time()
        self.cold = self.cold_ops() if self.wl.ops else self.pipeline_pass(self.load_sources())
        self.cold_s = time.time() - t0
        # set-up ends with the cold pass; the warm-up pass after it is
        # reported in session.warmup_s
        self.setup_s = self.ready_s + self.cold_s

    def order(self) -> list[str]:
        ops = list(self.wl.ops)
        random.Random(self.spec["seed"] * 1009 + self.tracer.pass_no).shuffle(ops)
        return ops

    def cold_ops(self) -> dict:
        """First execution of every op, collected for the oracle checks."""
        out = {}
        for op in self.order():
            self.attempted += 1
            try:
                with self.tracer.span(op):
                    out[op] = self.queries[op](self.spark, self.data).toPandas()
            except Exception as exc:  # an op that raises is a failed op; keep going
                self.fail(op, exc)
        return out

    # --- passes -----------------------------------------------------------------
    def ops_pass(self) -> dict:
        samples = {}
        for op in self.order():
            self.attempted += 1
            try:
                with self.tracer.span(op):
                    t0 = time.perf_counter()
                    df = self.queries[op](self.spark, self.data)
                    t1 = time.perf_counter()
                    with self.tracer.span("force"):
                        df.write.mode("overwrite").format("noop").save()
                    t2 = time.perf_counter()
                samples[op] = (t1 - t0, t2 - t1)
            except Exception as exc:
                self.fail(op, exc)
        return {"ops": samples}

    def load_sources(self) -> dict | None:
        """The pipeline's source frames (lazy; built before a pass starts)."""
        if self.wl.ops:
            return None
        from etl_extractor_spark.sources.parquet import load_table

        return {n: load_table(self.spark, self.data, n) for n in PIPELINE_SOURCES}

    def pipeline_pass(self, sources: dict) -> dict:
        """One ``run_pipeline`` into a fresh lake; its ops are the stages."""
        from etl_extractor_spark.pipeline import run_pipeline

        self.attempted += 1
        lake = os.path.join(self.scratch, f"lake{self.tracer.pass_no}")
        n0 = len(self.tracer.spans)
        try:
            run_pipeline(self.spark, sources, f"{lake}/staging", f"{lake}/gold")
        except Exception as exc:
            self.fail("run_pipeline", exc)
            return {"lake": lake, "ops": {}}
        stages = {}
        for _, path, t0, t1 in self.tracer.spans[n0:]:
            if path == "pipeline.run_pipeline":
                total = t1 - t0
            elif path.count("/") == 1 and _stage(path) in STAGES:
                stages[_stage(path)] = t1 - t0
        stages["reconcile"] = total - sum(stages.values())
        return {"lake": lake, "ops": {s: (0.0, stages[s]) for s in STAGES}}

    def one_pass(self) -> dict:
        self.tracer.pass_no += 1
        # a traced run traces every other pass; the passes between are its base
        traced = self.tracer.on = bool(self.spec["trace"]) and self.tracer.pass_no % 2 == 0
        sources = self.load_sources()
        cpu = lambda: tr.cpu_seconds(tr.proc_tree(self.me))  # noqa: E731
        c0, s0, w0, e0 = cpu(), tr.steal_seconds(), time.perf_counter(), time.time()
        p = self.ops_pass() if self.wl.ops else self.pipeline_pass(sources)
        p.update(wall=time.perf_counter() - w0, cpu=cpu() - c0, steal=tr.steal_seconds() - s0,
                 t0=e0, t1=time.time(), traced=traced, no=self.tracer.pass_no)
        self.tracer.on = False
        if not self.wl.ops:
            self.check_gold_hash(p["lake"])
            shutil.rmtree(p["lake"], ignore_errors=True)
        return p

    def measure(self) -> None:
        """Warm up, then measure."""
        self.warmup = [self.one_pass() for _ in range(WARMUP)]
        t_end = time.time() + self.spec["seconds"]
        kinds = (False, True) if self.spec["trace"] else (False,)
        while time.time() < t_end or any(
                sum(q["traced"] == k for q in self.passes) < MIN_PASSES for k in kinds):
            self.passes.append(self.one_pass())
        self.rss_mb = tr.peak_rss_mb([p for p in tr.proc_tree(self.me) if p != self.me])

    # --- output checks (outside every timed region) ---------------------------------
    def check(self) -> None:
        if self.wl.ops:
            sys.path.insert(0, os.path.join(self.spec["repo"], "tests"))
            from oracle import compare, duckdb_con

            con = duckdb_con(self.data)
            for op, pdf in self.cold.items():
                try:
                    compare(_Collected(pdf), con, self.oracles[op])
                except Exception as exc:  # a failed check is a failed op
                    self.fail(f"{op} oracle", exc)
            self.lake_bytes = _dir_bytes(
                os.environ["TMPDIR"],
                lambda n: n.endswith(".zip") or n.startswith(("spark-", "pyspark-", "duckdb_")),
            )
        elif self.cold["ops"]:  # a cold pass that raised is already a failed op
            lake = self.cold["lake"]
            self.lake_bytes = _dir_bytes(lake)
            for problem in self.pipeline_problems(lake):
                self.fail("pipeline invariant", problem)
            self.gold = self.gold_hash(lake)
            shutil.rmtree(lake, ignore_errors=True)

    def pipeline_problems(self, lake: str) -> list[str]:
        """The invariants tests/test_pipeline.py asserts, at this scale."""
        src = lambda t: f"read_parquet('{self.data}/{t}.parquet')"  # noqa: E731
        gold = lambda t: f"read_parquet('{lake}/gold/{t}/**/*.parquet', hive_partitioning=true)"  # noqa: E731
        one = lambda sql: _duck(sql)[0]  # noqa: E731
        problems = []
        fact, orders, events = (one(f"SELECT count(*) FROM {x}") for x in (
            gold("fact_opinion"), src("orders"), src("events")))
        if fact != orders + events:
            problems.append(f"fact rows {fact} != orders {orders} + events {events}")
        for dim, table, key in (("dim_cliente", "customer", "c_custkey"),
                                ("dim_producto", "part", "p_partkey"),
                                ("dim_fuente", "supplier", "s_suppkey")):
            got, want = one(f"SELECT count(*) FROM {gold(dim)}"), one(
                f"SELECT count(DISTINCT {key}) FROM {src(table)}")
            if got != want:
                problems.append(f"{dim} rows {got} != distinct {key} {want}")
        dates = one(
            f"SELECT count(*) FROM (SELECT o_orderdate::DATE FROM {src('orders')} UNION "
            f"SELECT l_shipdate::DATE FROM {src('lineitem')} UNION SELECT ts::DATE FROM {src('events')})")
        got = one(f"SELECT count(*) FROM {gold('dim_fecha')}")
        if got != dates:
            problems.append(f"dim_fecha rows {got} != distinct dates {dates}")
        bad = one(
            f"SELECT count(*) FROM {gold('fact_opinion')} WHERE IdFecha = -1 "
            f"OR IdCliente NOT BETWEEN 1 AND (SELECT max(IdCliente) FROM {gold('dim_cliente')}) "
            f"OR IdProducto NOT BETWEEN 1 AND (SELECT max(IdProducto) FROM {gold('dim_producto')}) "
            f"OR IdFuente NOT IN (SELECT IdFuente FROM {gold('dim_fuente')})")
        if bad:
            problems.append(f"{bad} fact rows with an unresolved date or an FK out of range")
        return problems

    def gold_hash(self, lake: str) -> tuple:
        return _duck(
            "SELECT count(*), sum(hash(src, IdCliente, IdProducto, IdFuente, IdFecha, "
            "Calificacion, Sentimiento, Comentario, anio)) FROM "
            f"read_parquet('{lake}/gold/fact_opinion/**/*.parquet', hive_partitioning=true)"
        )

    def check_gold_hash(self, lake: str) -> None:
        if self.gold is not None and os.path.isdir(lake) and self.gold_hash(lake) != self.gold:
            self.fail(f"gold hash pass {self.tracer.pass_no}", "differs from the first pass")

    # --- results ----------------------------------------------------------------
    def measured(self, traced: bool) -> list[dict]:
        return [p for p in self.passes if p["traced"] == traced]

    @staticmethod
    def per_op(passes: list[dict]) -> dict[str, list[tuple[float, float]]]:
        """{op: [(build_s, exec_s) per pass]}"""
        out: dict[str, list] = {}
        for p in passes:
            for o, v in p["ops"].items():
                out.setdefault(o, []).append(v)
        return out

    def result(self) -> dict:
        """Raw samples of the untraced measured passes."""
        base = self.measured(False)
        return {
            "attempted": self.attempted,
            "failed": self.failed,
            "errors": self.errors,
            "setup_s": self.setup_s,
            "start_s": self.start_s,
            "warmup_s": self.cold_s + sum(w["wall"] for w in self.warmup),
            "warmup_wall": [w["wall"] for w in self.warmup],
            "wall": [p["wall"] for p in base],
            "traced_wall": [p["wall"] for p in self.measured(True)],
            "cpu": [p["cpu"] for p in base],
            # share of all vCPU time the hypervisor took during each pass
            "steal": [p["steal"] / (p["wall"] * (os.cpu_count() or 1)) for p in base],
            "op_samples": [sum(p["ops"][o]) for p in base for o in p["ops"]],
            "per_op": self.per_op(base),
            "rss_mb": self.rss_mb,
            "lake_bytes": self.lake_bytes,
            "src_bytes": sum(os.path.getsize(f"{self.data}/{t}.parquet") for t in self.wl.tables),
        }

    def layers(self, event_log: str) -> dict:
        """Per-layer numbers, per traced measured pass."""
        import eventlog

        res = self.result()
        traced = self.measured(True)
        n, nos = len(traced), {p["no"] for p in traced}
        cores = os.cpu_count() or 1
        jobs = [j for j in eventlog.fold(event_log, self.tracer.spans) if j.pass_no in nos and j.path]
        spans = [s for s in self.tracer.spans if s[0] in nos]

        def total(key, pick=lambda j: True):
            return sum(j.sums[key] for j in jobs if pick(j)) / n

        def span_s(pred) -> float:
            """Per-pass time in outermost spans matching ``pred``."""
            return sum(t1 - t0 for _, path, t0, t1 in spans if pred(path.split("/"))) / n

        def outermost(layer):
            return lambda parts: parts[-1].startswith(layer) and not any(
                p.startswith(layer) for p in parts[:-1])

        tasks = sum(len(j.tasks) for j in jobs)
        out = {
            "session.start_s": (self.start_s, "s"),
            "session.warmup_s": (res["warmup_s"], "s"),
            "sources.load_s": (span_s(lambda p: p[-1] == "sources.parquet.load_table"), "s"),
            "sources.read_bytes": (total("sql:size of files read"), "B"),
            "sources.read_rows": (total("read_rows"), "count"),
            "sources.scan_s": (total("sql:scan time") / 1000, "s"),
        }
        for stage in STAGES:
            mine = [j for j in jobs if _stage(j.path) == stage]
            secs = statistics.median(p["ops"][stage][1] for p in traced) if not self.wl.ops else 0.0
            run_ms = sorted(t[0] for j in mine for t in j.tasks)
            cpu = sum(j.sums["cpu_ns"] for j in mine) / 1e9 / n
            out.update({
                f"pipeline.{stage}.s": (secs, "s"),
                f"pipeline.{stage}.cpu_s": (cpu, "s"),
                f"pipeline.{stage}.util": (cpu / (secs * cores) if secs > 0 else 0.0, "ratio"),
                f"pipeline.{stage}.tasks": (len(run_ms) / n, "count"),
                f"pipeline.{stage}.max_task_over_median": (
                    run_ms[-1] / max(1, statistics.median(run_ms)) if run_ms else 0.0, "ratio"),
            })
        not_noop = lambda j: not j.path.endswith("/force")  # noqa: E731
        out.update({
            "sinks.write_s": (span_s(outermost("sinks.")), "s"),
            "sinks.bytes_written": (total("write_bytes", not_noop), "B"),
            "sinks.files_written": (total("sql:number of written files"), "count"),
            "sinks.rows_written": (total("write_rows", not_noop), "count"),
        })
        per_op = self.per_op(traced)
        for op in ALL_OPS:
            mine = lambda j, op=op: j.path.split("/")[0] == op  # noqa: E731
            b, e = ([statistics.median(v[i] for v in per_op[op]) for i in (0, 1)]
                    if op in per_op else (0.0, 0.0))
            out.update({
                f"plans.{op}.build_s": (b, "s"),
                f"plans.{op}.exec_s": (e, "s"),
                f"plans.{op}.cpu_s": (total("cpu_ns", mine) / 1e9, "s"),
            })
        empty = sum(j.sums["empty_tasks"] for j in jobs)
        out.update({
            "plans.jobs": (len(jobs) / n, "count"),
            "plans.stages": (total("stages"), "count"),
            "plans.tasks": (tasks / n, "count"),
            "operators.shuffle_write_bytes": (total("shuffle_write_bytes"), "B"),
            "operators.shuffle_fetch_wait_s": (total("fetch_wait_ms") / 1000, "s"),
            "operators.spill_bytes": (total("spill_bytes"), "B"),
            "operators.gc_s": (total("gc_ms") / 1000, "s"),
            "operators.python_bytes": (
                total("sql:data sent to Python workers") + total("sql:data returned from Python workers"), "B"),
            "operators.empty_task_frac": (empty / tasks if tasks else 0.0, "ratio"),
        })
        out.update(self.stream_layers(traced))
        return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}

    def stream_layers(self, traced: list[dict]) -> dict:
        n, batches = len(traced), []
        if self.stream is not None:
            windows = [(p["t0"], p["t1"]) for p in traced]
            # progress timestamps have millisecond resolution
            batches = [b for b in self.stream.batches
                       if any(t0 - 0.001 <= b[0] <= t1 for t0, t1 in windows)]
        dur = lambda key: sum(b[2].get(key, 0) for b in batches) / n  # noqa: E731
        last_state: dict[str, int] = {}
        for b in batches:
            last_state[b[1]] = b[4]
        return {
            "streaming.batches": (len(batches) / n, "count"),
            "streaming.add_batch_ms": (dur("addBatch"), "ms"),
            "streaming.wal_commit_ms": (dur("walCommit"), "ms"),
            "streaming.query_planning_ms": (dur("queryPlanning"), "ms"),
            "streaming.latest_offset_ms": (dur("latestOffset"), "ms"),
            "streaming.state_rows": (sum(last_state.values()) / n, "count"),
            "streaming.empty_batch_frac": (
                sum(1 for b in batches if b[3] == 0) / len(batches) if batches else 0.0, "ratio"),
        }


def main() -> None:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    sys.path.insert(0, spec["repo"])
    run = Run(spec)
    run.setup()
    run.check()
    run.measure()
    if run.stream is not None:
        run.stream.drain()
    run.spark.stop()
    out = run.result()
    if spec["trace"]:
        logs = [os.path.join(spec["event_log"], f) for f in os.listdir(spec["event_log"])]
        out["layers"] = run.layers(logs[0])
    with open(spec["out"], "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
