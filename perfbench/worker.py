"""The Spark process of one benchmark run; ``run.py`` starts it.

It times calls into the engine's public functions only: set-up (engine
import and ``registry.load_all``, ``session.get_spark``, source
registration, one warm-up pass), then closed-loop passes until the timed
window ends, each pass starting when the previous one ends. After the
window it checks every pass's outputs and reads the Spark driver's live
heap. With ``--trace 1`` the window alternates untraced and traced passes,
and the per-layer numbers come from the traced ones. It writes everything
to ``--out``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import statistics
import sys
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import inputs  # noqa: E402
from trace import ProcWatch, Tracer, read_event_log  # noqa: E402

clock = time.perf_counter


def host_kernel_ms() -> float:
    """A fixed pure-Python CPU kernel, median of three timings (diagnostic)."""
    times = []
    for _ in range(3):
        t = clock()
        sum(i * i % 7 for i in range(400_000))
        times.append((clock() - t) * 1e3)
    return statistics.median(times)


def sink_stats(url: str) -> dict:
    with urllib.request.urlopen(url + "/stats", timeout=10) as res:
        return json.loads(res.read())


def timed_poster(times_path: str):
    """The engine's default poster, also recording each POST's wall time.
    It runs in the Python workers; each appends one line per POST."""

    def post(url, payload):
        from etl_cotrip_signs_spark.sinks.http import default_poster

        t = time.perf_counter()
        default_poster(url, payload)
        with open(times_path, "a") as fh:
            fh.write(f"{time.perf_counter() - t}\n")

    return post


class Ops:
    """Operations attempted and failed, with the first few distinct failures named."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def record(self, problem: str | None) -> None:
        self.attempted += 1
        if problem:
            self.failed += 1
            if len(self.notes) < 5 and problem not in self.notes:
                self.notes.append(problem)


class SignsEtl:
    """Paged REST source (file transport) -> signs_pipeline -> HTTP sink."""

    def __init__(self, spark, inputs_dir: str, sink_url: str, work: str):
        from etl_cotrip_signs_spark.sources.rest import register_rest_source

        self.spark = spark
        self.url = sink_url
        self.pages = os.path.join(inputs_dir, "pages")
        self.offsets = ",".join(inputs.sign_offsets())
        self.post_times = os.path.join(work, "post_times.txt")
        self.passes: list[dict] = []  # wall, sink stats before and after, error
        if not register_rest_source(spark):
            raise RuntimeError("this Spark build has no Python DataSource API")

    def source(self):
        return (
            self.spark.read.format("rest_signs")
            .option("transport", "file")
            .option("path", self.pages)
            .option("offsets", self.offsets)
            .load()
        )

    def run_pass(self, record: bool = True, tracer: Tracer | None = None, group=None) -> float:
        from etl_cotrip_signs_spark.operators.signs import signs_pipeline
        from etl_cotrip_signs_spark.sinks.http import http_batch_sink

        span = tracer.span if tracer else _no_span
        rec = {"before": sink_stats(self.url)}
        t = clock()
        try:
            if group:
                group("signs", "source")
            with span("sources.read"):
                src = self.source()
            if group:
                group("signs", "transform")
            with span("operators.signs.transform"):
                out = signs_pipeline(src, inputs.ALLOWED)
            if group:
                group("signs", "execute")
            with span("sinks.write"):
                http_batch_sink(
                    out, self.url, poster=timed_poster(self.post_times) if tracer else None
                )
        except Exception as e:  # a failed pass is a failed operation, not a crash
            rec["error"] = f"pass failed: {type(e).__name__}: {str(e)[:200]}"
        rec["wall"] = clock() - t
        rec["after"] = sink_stats(self.url)
        if record:
            self.passes.append(rec)
        return rec["wall"]

    def summary(self, inputs_dir: str, spool: str) -> tuple[dict, Ops]:
        """Ops: each POST of a timed pass, each refused POST, and each pass's
        output check. The POSTs of a pass that failed or whose output is
        wrong count as failed, so a wrong output weighs as much as the POSTs
        that carried it."""
        with open(os.path.join(inputs_dir, "expected_rows.json")) as fh:
            expected = json.load(fh)["rows"]
        with open(spool, "rb") as fh:
            data = fh.read()
        ops = Ops()
        walls = []
        verdicts: dict[tuple, str | None] = {}  # pass digest -> check result
        for i, p in enumerate(self.passes):
            for _ in range(p["after"]["refused"] - p["before"]["refused"]):
                ops.record("sink refused a POST")
            if "error" in p:
                verdict = p["error"]
            else:
                if i >= SETTLE:
                    walls.append(p["wall"])
                bodies = data[p["before"]["spool_size"] : p["after"]["spool_size"]].splitlines()
                # Passes that POSTed byte-identical bodies get the same verdict;
                # only a pass with new bodies is decoded and compared row by row.
                digest = checks.bodies_digest(bodies)
                if digest not in verdicts:
                    verdicts[digest] = checks.check_signs(expected, checks.sink_rows(bodies))
                verdict = verdicts[digest]
            for _ in range(p["after"]["posts"] - p["before"]["posts"] + 1):  # its POSTs + the check
                ops.record(verdict)
        return {
            "pass_walls": [p["wall"] for p in self.passes],
            "wall_s": statistics.median(walls),
            "items": len(walls) * inputs.SIGN_PAGES * inputs.SIGN_PAGE_FEATURES,
            "measured_wall_s": sum(p["wall"] for p in self.passes[SETTLE:]),
        }, ops


def _no_span(name, **attrs):
    return contextlib.nullcontext()


class Catalog:
    """Registered queries on generated tables: construct, then collect."""

    def __init__(self, spark, inputs_dir: str):
        from etl_cotrip_signs_spark import registry

        self.spark = spark
        self.registry = registry
        self.tables = os.path.join(inputs_dir, "tables")
        self.queries = inputs.CATALOG_QUERIES
        self.walls: dict[str, list[float]] = {q: [] for q in self.queries}
        self.outputs: dict[str, list] = {q: [] for q in self.queries}
        self.pass_walls: list[float] = []

    def run_pass(self, record: bool = True, tracer: Tracer | None = None, group=None) -> float:
        from etl_cotrip_signs_spark.plans.explain import formatted_plan

        span = tracer.span if tracer else _no_span
        total = 0.0
        for q in self.queries:
            t = clock()
            try:
                if group:
                    group(q, "construct")
                with span("registry.construct", step=q):
                    df = self.registry.QUERIES[q](self.spark, self.tables)
                if tracer:
                    group(q, "plan")
                    with span("plans.plan", step=q):
                        formatted_plan(df)
                    group(q, "execute")
                with span("execute", step=q):
                    rows = df.collect()
                out = (df.columns, rows)
            except Exception as e:  # a failed query run is a failed operation
                out = f"{q} failed: {type(e).__name__}: {str(e)[:200]}"
            wall = clock() - t
            total += wall
            if record:
                self.walls[q].append(wall)
                self.outputs[q].append(out)
        if record:
            self.pass_walls.append(total)
        return total

    def summary(self, inputs_dir: str, spool: str | None) -> tuple[dict, Ops]:
        with open(os.path.join(inputs_dir, "expected_rows.json")) as fh:
            expected = json.load(fh)
        ops = Ops()
        done = 0
        for q in self.queries:
            for i, out in enumerate(self.outputs[q]):
                if isinstance(out, str):
                    ops.record(out)
                    continue
                ops.record(None)  # the query run itself
                problem = checks.check_catalog(expected[q], *out)
                ops.record(f"{q}: {problem}" if problem else None)
                if i >= SETTLE:
                    done += 1
        medians = {q: statistics.median(w[SETTLE:]) for q, w in self.walls.items()}
        return {
            "pass_walls": self.pass_walls,
            "query_medians": medians,
            "wall_s": sum(medians.values()),
            "items": done,
            "measured_wall_s": sum(self.pass_walls[SETTLE:]),
        }, ops


def live_heap_mb(spark) -> float:
    """Driver JVM heap in use after a forced full GC (MemoryMXBean).

    A full GC only queues the session's dropped checkpoints, broadcasts and
    shuffles; Spark's ContextCleaner thread frees their blocks afterwards,
    and each GC can expose another layer of them. Readings after 1-s rounds
    went 92.9, 90.1, 82.2, 82.2 MB, so the lowest of six rounds is taken."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for _ in range(6):
        gc.collect()  # drop Python proxies so the JVM objects they pin can go
        jvm.System.gc()
        time.sleep(0.4)
        used.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
    return min(used)


def stop_session(spark) -> None:
    """Stop Spark, then end its JVM and wait for it: the gateway JVM exits
    when its stdin closes, and this process, its parent, reaps it."""
    jvm_proc = spark.sparkContext._gateway.proc
    spark.stop()
    jvm_proc.stdin.close()
    jvm_proc.wait(timeout=60)


def storage(spark) -> tuple[int, float]:
    """Cached blocks and their size (memory + disk) held by the session."""
    blocks, size = 0, 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        blocks += info.numCachedPartitions()
        size += info.memSize() + info.diskSize()
    return blocks, size / 2**20


def wrap_load_table(tracer: Tracer, group, current: dict):
    """Wrap every binding of io.load_table (the operator modules import it
    by name) so each call gets a span and its jobs their own job group.
    Returns a function that restores the original bindings."""
    from etl_cotrip_signs_spark import io as engine_io

    original = engine_io.load_table

    def load_table(spark, sf_dir, name):
        step = current["step"]
        group(step, "io")
        try:
            with tracer.span("io.load_table", step=step, table=name):
                return original(spark, sf_dir, name)
        finally:
            group(step, "construct")

    patched = []
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("etl_cotrip_signs_spark") and getattr(
            mod, "load_table", None
        ) is original:
            mod.load_table = load_table
            patched.append(mod)

    def restore():
        for mod in patched:
            mod.load_table = original

    return restore


TRACED_PASSES = 3  # at least this many; per-layer times are medians, counts per pass
# A window runs for --seconds and at least MIN_PASSES passes. Its first pass
# (SETTLE) is timed and checked but left out of wall_s and items_per_s: the
# JIT is still warming, and that pass runs 25-40% slower than the next ones.
MIN_PASSES = 3
SETTLE = 1


def traced_window(wl, name: str, spark, tracer: Tracer, watch: ProcWatch, url, seconds: float):
    """Pairs of one untraced and one traced pass, for ``seconds`` and at
    least TRACED_PASSES pairs; the overhead is the median difference within
    a pair, so it is not confused with warm-up drift. Then, for signs_etl,
    prefix probes that split the lazily fused dataflow into source,
    transform and sink time."""
    sc = spark.sparkContext
    current = {"step": ""}

    def group(step: str, phase: str) -> None:
        current["step"] = step
        sc.setJobGroup(f"{name}:{step}:{phase}", f"{name}:{step}:{phase}")

    layer: dict[str, float] = {}
    sink_before = sink_stats(url) if url else None
    untraced, traced = [], []
    jvm = py = 0.0

    def traced_pass() -> None:
        nonlocal jvm, py
        tracer.pass_no = len(traced)
        restore = wrap_load_table(tracer, group, current) if isinstance(wl, Catalog) else None
        jvm0, py0 = watch.cpu()
        try:
            traced.append(wl.run_pass(record=False, tracer=tracer, group=group))
        finally:
            if restore:
                restore()
        jvm1, py1 = watch.cpu()
        jvm, py = jvm + jvm1 - jvm0, py + py1 - py0

    def untraced_pass() -> None:
        sc.setJobGroup("", "")
        untraced.append(wl.run_pass())

    start = clock()
    while clock() - start < seconds or len(traced) < TRACED_PASSES:
        # pairs in ABBA order, so the warm-up drift favours neither kind
        first, second = (untraced_pass, traced_pass) if len(traced) % 2 == 0 else (
            traced_pass, untraced_pass)
        first()
        second()
    tracer.pass_no = None
    n = len(traced)
    layer["passes"] = n
    layer["tracing_overhead_s"] = statistics.median(t - u for t, u in zip(traced, untraced))
    layer["jvm.cpu_s"] = jvm / n
    layer["pyworker.cpu_s"] = py / n
    layer["storage.cached_blocks"], layer["storage.cached_mb"] = storage(spark)
    if url:
        after = sink_stats(url)
        for k in ("posts", "bytes", "refused"):
            # the sink saw both kinds of pass; each posts the same
            layer[f"sinks.{k}"] = (after[k] - sink_before[k]) / (n + len(untraced))
        with open(wl.post_times) as fh:
            layer["sinks.post_p50_s"] = statistics.median(float(x) for x in fh)
        from etl_cotrip_signs_spark.operators.signs import signs_pipeline

        def noop(df) -> float:
            t = clock()
            df.write.format("noop").mode("overwrite").save()
            return clock() - t

        # prefix probes, each ending in a no-op write: the source alone, then
        # source + transform; their differences split the fused pass
        src_s, prefix_s = [], []
        for _ in range(TRACED_PASSES):
            group("probe", "source")
            src_s.append(noop(wl.source()))
            group("probe", "transform")
            prefix_s.append(noop(signs_pipeline(wl.source(), inputs.ALLOWED)))
        group("probe", "count")
        layer["operators.signs.features_in"] = wl.source().count()
        layer["operators.signs.features_out"] = signs_pipeline(wl.source(), inputs.ALLOWED).count()
        layer["sources.read_s"] = statistics.median(src_s)
        layer["sources.probes"] = TRACED_PASSES
        layer["operators.signs.transform_s"] = statistics.median(prefix_s) - layer["sources.read_s"]
        layer["sinks.write_s"] = tracer.median_total("sinks.write", n) - statistics.median(prefix_s)
    sc.setJobGroup("", "")
    return layer


def per_layer(name: str, tracer: Tracer, layer: dict, groups: dict) -> dict:
    """The per-layer metrics of BENCHMARK.json from spans, event-log job
    groups and the traced-pass readings. Counts are per traced pass."""
    n = layer["passes"]

    def jobs(*phases: str) -> dict:
        out = {"jobs": 0, "stages": 0, "tasks": 0}
        for g, v in groups.items():
            parts = g.split(":")
            if len(parts) == 3 and parts[0] == name and parts[1] != "probe" and parts[2] in phases:
                for k in out:
                    out[k] += v[k] / n
        return out

    in_pass = [v for g, v in groups.items() if g.startswith(name + ":") and ":probe:" not in g]

    def summed(key: str) -> float:
        return sum(v[key] for v in in_pass) / n

    src_tasks = groups.get(f"{name}:probe:source", {"tasks": 0})["tasks"] / layer.get(
        "sources.probes", 1
    )
    execute = jobs("execute")
    med = tracer.median_total
    return {
        "session.get_spark_s": tracer.total("session.get_spark")[1],
        "registry.load_all_s": tracer.total("registry.load_all")[1],
        "pyworker.started": len(layer["pyworker_seen"]),
        "pyworker.cpu_s": layer["pyworker.cpu_s"],
        "jvm.cpu_s": layer["jvm.cpu_s"],
        "registry.construct_s": med("registry.construct", n),
        "registry.construct_jobs": jobs("construct", "io")["jobs"],
        "io.load_table_calls": tracer.total("io.load_table")[0] / n,
        "io.load_table_s": med("io.load_table", n),
        "io.load_table_jobs": jobs("io")["jobs"],
        "plans.plan_s": med("plans.plan", n),
        "execute_s": med("execute", n) + med("sinks.write", n),
        "execute_jobs": execute["jobs"],
        "execute_stages": execute["stages"],
        "execute_tasks": execute["tasks"],
        "spark.shuffle_read_bytes": summed("shuffle_read"),
        "spark.shuffle_write_bytes": summed("shuffle_write"),
        "spark.spill_bytes": summed("spill"),
        "spark.peak_execution_memory_mb": max((v["peak_mem"] for v in in_pass), default=0) / 2**20,
        "spark.executor_run_s": summed("run_s"),
        "spark.executor_cpu_s": summed("cpu_s"),
        "spark.gc_s": summed("gc_s"),
        "storage.cached_blocks": layer["storage.cached_blocks"],
        "storage.cached_mb": layer["storage.cached_mb"],
        "sources.read_s": layer.get("sources.read_s", 0.0),
        "sources.tasks": src_tasks,
        "sources.features_per_task": layer.get("operators.signs.features_in", 0) / max(src_tasks, 1),
        "operators.signs.transform_s": layer.get("operators.signs.transform_s", 0.0),
        "operators.signs.features_in": layer.get("operators.signs.features_in", 0),
        "operators.signs.features_out": layer.get("operators.signs.features_out", 0),
        "sinks.write_s": layer.get("sinks.write_s", 0.0),
        "sinks.posts": layer.get("sinks.posts", 0),
        "sinks.bytes": layer.get("sinks.bytes", 0),
        "sinks.refused": layer.get("sinks.refused", 0),
        "sinks.post_p50_s": layer.get("sinks.post_p50_s", 0.0),
        "tracing_overhead_s": layer["tracing_overhead_s"],
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--sink-url")
    ap.add_argument("--spool")
    ap.add_argument("--cpus", type=int, required=True)
    args = ap.parse_args()

    tracer = Tracer()
    t0 = clock()
    with tracer.span("registry.load_all"):
        from etl_cotrip_signs_spark import registry

        registry.load_all()
    with tracer.span("session.get_spark"):
        from etl_cotrip_signs_spark import session

        spark = session.get_spark(master=f"local[{args.cpus}]")
    watch = None
    if args.trace:
        watch = ProcWatch(spark._jvm.java.lang.ProcessHandle.current().pid())
        watch.start()
    with tracer.span("sources.register"):
        if args.workload == "signs_etl":
            wl = SignsEtl(spark, args.inputs, args.sink_url, args.work)
        else:
            wl = Catalog(spark, args.inputs)
    wl.run_pass(record=False)  # the one warm-up pass
    setup_s = clock() - t0

    kernel_before = host_kernel_ms()
    start = clock()
    if args.trace:
        layer = traced_window(wl, args.workload, spark, tracer, watch, args.sink_url, args.seconds)
    else:
        passes = 0
        while clock() - start < args.seconds or passes < MIN_PASSES:
            wl.run_pass()
            passes += 1
    timed_wall = clock() - start
    kernel_after = host_kernel_ms()

    result = {"setup_s": setup_s, "timed_wall_s": timed_wall}
    result["host_kernel_ms"] = [kernel_before, kernel_after]
    summary, ops = wl.summary(args.inputs, args.spool)
    result.update(summary)
    result.update(attempted=ops.attempted, failed=ops.failed, failures=ops.notes)
    if not args.trace:
        result["live_heap_mb"] = live_heap_mb(spark)
        stop_session(spark)
    else:
        watch.stop()
        layer["pyworker_seen"] = watch.seen
        stop_session(spark)
        groups = read_event_log(os.path.join(args.work, "eventlog"))
        result["per_layer"] = per_layer(args.workload, tracer, layer, groups)
        tracer.write(os.path.join(args.work, "spans.json"))
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
