"""Benchmark of the engine: one named workload per fresh process.

    python3 perfbench/run.py --workload {convert,tail} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout. The seed makes the inputs: person-JSON
landings for ``convert``, ``scripts/gen_fixtures.build`` tables (cached per
seed under ``.perfbench/``) for ``tail``. Each run starts a ``local[4]``
session and runs warm-up passes, one of which has its outputs checked
(convert outputs against a Python model of the reference rules, query
results against the DuckDB oracles). It then measures whole passes until
``--seconds`` have elapsed. Convert outputs of the measured passes are
checked after the timed interval.

Closed loop, one client. The last stdout line is the JSON result:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The line before it carries sample counts, the failure
share, CPU steal, loadavg and the core count. ``--trace 1`` also writes the
spans to ``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CORES = 4
WARMUP_PASSES = {"convert": 4, "tail": 3}

import tracing  # noqa: E402
import workloads  # noqa: E402
from tracing import median  # noqa: E402

def pin_environment() -> str:
    """Pin the hash seed, the core count and every scratch directory to
    the checkout, re-executing once so the hash seed applies to this
    interpreter too. Returns the per-run scratch directory."""
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    want = {
        "PYTHONHASHSEED": "0",
        "SPARK_GRAFT_CPUS": str(CORES),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    }
    if any(os.environ.get(k) != v for k, v in want.items()):
        os.environ.update(want)
        os.execv(sys.executable, [sys.executable, *sys.argv])
    os.makedirs(tmp, exist_ok=True)
    return tmp


def cpu_steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def process_tree() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields after the command name, for this
    process and its live descendants: the Python driver, the JVM and the
    Python workers."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        stats[int(d)] = fields
        children.setdefault(int(fields[1]), []).append(int(d))
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        if pid in stats:
            tree[pid] = stats[pid]
    return tree


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used by the process tree, reaped children included."""
    return sum(
        sum(int(x) for x in f[11:15]) for f in process_tree().values()
    ) / _TICK


def tree_peak_rss_mb() -> float:
    """Sum of peak resident memory (VmHWM) over the process tree."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


class Run:
    """One workload run: the session, the request log and the split of
    time between program work and the benchmark's own work."""

    def __init__(self, args, tmp: str):
        self.args = args
        self.tmp = tmp
        self.own_s = 0.0  # input generation and checking: not program time
        self.attempted = 0
        self.failed = 0
        self.tracer = tracing.Tracer(on=False)
        self.spark = None
        self.probe = None
        self.records: list[dict] = []  # one per measured request
        self.layers: dict[str, float] = {}
        self.notes: dict = {}

    # -- helpers ---------------------------------------------------------
    def fail(self, what: str, detail: str) -> None:
        self.failed += 1
        print(f"BENCH FAIL {what}: {detail}", file=sys.stderr)

    def order(self, names, pass_no: int) -> list[str]:
        names = list(names)
        random.Random(f"{self.args.seed}:{pass_no}").shuffle(names)
        return names

    def request(self, rid: str, name: str, body) -> dict | None:
        """Run one measured request under its own job group; returns its
        record, or None if it raised."""
        sc = self.spark.sparkContext
        sc.setJobGroup(rid, name)
        rec = {"rid": rid, "name": name, "traced": self.tracer.on}
        n_progress = len(self.probe.progress) if self.probe else 0
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span("request", rid, query=name):
                body(rec)
        except Exception:  # noqa: BLE001 - a failed request is a result
            self.fail(rid, traceback.format_exc())
            return None
        finally:
            self.spark.catalog.clearCache()
        rec["latency_s"] = time.perf_counter() - t0
        if self.probe:
            rec.update(self.probe.group(rid))
            rec["progress"] = self.probe.progress[n_progress:]
        self.records.append(rec)
        return rec

    # -- query workloads -------------------------------------------------
    def query_check_pass(self, names, sf_dir: str, pass_no: int) -> None:
        """Run every query once, fetch its result and compare it with its
        DuckDB oracle. The build and the fetch are program time; the oracle
        and the comparison are own work."""
        import duckdb
        from oracle_utils import compare_query, register_duck_views

        from json_parquet_convertor_spark import registry

        con = duckdb.connect()
        register_duck_views(con, sf_dir)
        for name in self.order(names, pass_no):
            spent: list[float] = []
            fn = _timed_query(registry.QUERIES[name], spent)
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if name in registry.ORACLES:
                    ok, detail = compare_query(
                        self.spark, con, fn, registry.ORACLES[name], sf_dir)
                else:
                    df = fn(self.spark, sf_dir)
                    t = time.perf_counter()
                    ok = len(df.limit(1).collect()) == 1
                    spent.append(time.perf_counter() - t)
                    detail = "no rows" if not ok else "rows returned"
            except Exception:  # noqa: BLE001
                ok, detail = False, traceback.format_exc()
            finally:
                self.spark.catalog.clearCache()
            if not ok:
                self.fail(f"check {name}", detail)
            self.own_s += time.perf_counter() - t0 - sum(spent)
        con.close()

    def query_pass(self, names, sf_dir: str, pass_no: int) -> None:
        from json_parquet_convertor_spark import registry
        from json_parquet_convertor_spark.plans.inspect import audit

        for name in self.order(names, pass_no):
            fn = registry.QUERIES[name]

            def body(rec, fn=fn):
                with self.tracer.span("build"):
                    sends = self.probe.py4j_sends if self.probe else 0
                    t = time.perf_counter()
                    df = fn(self.spark, sf_dir)
                    rec["build_s"] = time.perf_counter() - t
                    if self.probe:
                        rec["py4j"] = self.probe.py4j_sends - sends
                if self.tracer.on:
                    with self.tracer.span("plan"):
                        rec["exchanges"] = audit(df)["exchanges"]
                        rec.update(self.probe.phases(df))
                with self.tracer.span("exec") as sp:
                    df.write.format("noop").mode("overwrite").save()
                if sp is not None:
                    rec["exec_s"] = time.perf_counter() - sp["start"]

            self.request(f"p{pass_no}:{name}", name, body)

    # -- convert workload ------------------------------------------------
    def convert_pass(self, pass_no: int) -> None:
        from json_parquet_convertor_spark import convert

        t0 = time.perf_counter()
        landings = workloads.landing_pass(
            self.args.seed, pass_no, os.path.join(self.tmp, "inbox"))
        self.own_s += time.perf_counter() - t0
        for i, land in enumerate(landings):
            land["dst"] = os.path.join(
                self.tmp, "outbox", f"p{pass_no}_{i}_n{land['files']}")

            def body(rec, land=land):
                with self.tracer.span("exec"):
                    convert.json_to_parquet_per_file(
                        self.spark, land["src"], land["dst"])

            rec = self.request(
                f"p{pass_no}:{i}", f"convert_n{land['files']}", body)
            if rec is not None:
                rec["landing"] = land

    def verify_converted(self, records) -> None:
        """Check the outputs of the convert requests that returned against
        the Python model (own work); a request that raised is already
        counted as failed."""
        t0 = time.perf_counter()
        for rec in records:
            land = rec["landing"]
            with self.tracer.span("verify", rid=rec["rid"]):
                ok, detail, out_bytes = workloads.check_converted(
                    land["dst"], land["expected"])
            land["out_bytes"] = out_bytes
            land["files_out"] = len(land["expected"]) if ok else 0
            if not ok:
                self.fail(f"convert {land['dst']}", detail)
        self.own_s += time.perf_counter() - t0


def _timed_query(fn, spent: list[float]):
    """Wrap a registered query so its build and its result fetch are
    timed: that is the program's share of an oracle check."""

    def build(spark, sf_dir):
        t = time.perf_counter()
        df = fn(spark, sf_dir)
        spent.append(time.perf_counter() - t)
        for method in ("toPandas", "collect"):
            original = getattr(df, method)

            def timed(*a, _original=original, **k):
                t = time.perf_counter()
                try:
                    return _original(*a, **k)
                finally:
                    spent.append(time.perf_counter() - t)

            setattr(df, method, timed)
        return df

    return build


def measure(run: Run, one_pass, first_pass: int):
    """Whole passes until ``--seconds`` have elapsed (at least one).
    Returns the wall and CPU seconds of each pass, and the next pass
    number."""
    times, cpu, p = [], [], first_pass
    t0 = time.perf_counter()
    while True:
        t, c = time.perf_counter(), tree_cpu_s()
        one_pass(p)
        times.append(time.perf_counter() - t)
        cpu.append(tree_cpu_s() - c)
        p += 1
        if time.perf_counter() - t0 >= run.args.seconds:
            return times, cpu, p


def layer_metrics(run: Run, traced_passes: int) -> dict[str, tuple[float, str]]:
    """Per-layer metrics from the traced passes' request records. Times
    are per-request medians, counts and bytes per-pass totals; a layer a
    workload bypasses reads 0."""
    recs = [r for r in run.records if r["traced"]]
    per_pass = lambda key: sum(r.get(key, 0) for r in recs) / traced_passes  # noqa: E731
    med = lambda key, rs=recs: median(r[key] for r in rs if key in r)  # noqa: E731
    streaming = [r for r in recs if r["progress"]]
    progress = [p for r in recs for p in r["progress"]]

    def per_request_sum(r, f):
        return sum(f(p) for p in r["progress"])

    last_state = {}
    for p in progress:
        last_state[p["id"]] = p["state"]
    conv = [r for r in recs if "landing" in r]
    for r in conv:
        r["driver_s"] = r["latency_s"] - r["job_wall_s"]
    request_s = sum(r["latency_s"] for r in recs)
    out = {
        "session.start_s": (run.layers["session.start_s"], "s"),
        "registry.load_all_s": (run.layers["registry.load_all_s"], "s"),
        "warmup.first_pass_s": (run.layers["warmup.first_pass_s"], "s"),
        "operators.build_s": (med("build_s"), "s"),
        "operators.py4j_calls": (per_pass("py4j"), "count"),
        "catalyst.analysis_s": (med("analysis"), "s"),
        "catalyst.optimization_s": (med("optimization"), "s"),
        "catalyst.planning_s": (med("planning"), "s"),
        "plans.exchanges": (per_pass("exchanges"), "count"),
        "exec.jobs": (per_pass("jobs"), "count"),
        "exec.stages": (per_pass("stages"), "count"),
        "exec.tasks": (per_pass("tasks"), "count"),
        "exec.run_s": (med("job_wall_s"), "s"),
        "exec.task_run_s": (med("task_run_s"), "s"),
        "exec.task_cpu_s": (med("task_cpu_s"), "s"),
        "exec.gc_s": (med("gc_s"), "s"),
        "exec.shuffle_read_bytes": (per_pass("shuffle_read_bytes"), "bytes"),
        "exec.shuffle_write_bytes": (per_pass("shuffle_write_bytes"), "bytes"),
        "exec.spill_bytes": (per_pass("spill_bytes"), "bytes"),
        "exec.parallelism": (
            sum(r["task_run_s"] for r in recs) / (request_s * CORES)
            if request_s else 0.0, "ratio"),
        "streaming.batches": (len(progress) / traced_passes, "count"),
        "streaming.add_batch_s": (median(
            per_request_sum(r, lambda p: p["duration_ms"].get("addBatch", 0))
            / 1e3 for r in streaming), "s"),
        "streaming.commit_s": (median(
            per_request_sum(r, lambda p: p["duration_ms"].get("walCommit", 0)
                            + p["duration_ms"].get("commitOffsets", 0))
            / 1e3 for r in streaming), "s"),
        "streaming.state_rows": (sum(
            s[0] for st in last_state.values() for s in st) / traced_passes,
            "count"),
        "streaming.state_memory_bytes": (sum(
            s[1] for st in last_state.values() for s in st) / traced_passes,
            "bytes"),
        "streaming.state_commit_s": (median(
            per_request_sum(r, lambda p: sum(s[2] for s in p["state"]))
            / 1e3 for r in streaming), "s"),
        "udfs.exec_s": (median(
            r["exec_s"] for r in recs if r["name"] in workloads.UDF_QUERIES),
            "s"),
        "convert.job_s": (med("job_wall_s", conv), "s"),
        "convert.driver_s": (med("driver_s", conv), "s"),
        "convert.write_tasks": (sum(r["tasks"] for r in conv) / traced_passes,
                                "count"),
        "convert.files_out_per_in": (
            sum(r["landing"].get("files_out", 0) for r in conv)
            / max(1, sum(r["landing"]["files"] for r in conv)), "ratio"),
    }
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=tuple(WARMUP_PASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    tmp = pin_environment()
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    from json_parquet_convertor_spark import registry
    from json_parquet_convertor_spark.session import get_spark

    run = Run(args, tmp)
    names = workloads.TAIL if args.workload == "tail" else None
    try:
        if names:
            sf_dir, gen_s = workloads.tables_dir(WORK, args.seed, workloads.SF)
            run.own_s += gen_s
            run.notes["tables_gen_s"] = round(gen_s, 3)

        t = time.perf_counter()
        run.spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=CORES)
        run.layers["session.start_s"] = time.perf_counter() - t
        t = time.perf_counter()
        registry.load_all()
        run.layers["registry.load_all_s"] = time.perf_counter() - t

        # Warm-up passes: a cold one, one whose outputs are checked, then
        # more until the JIT has caught up. With one or two, the passes
        # after them still ran 10-30% slow, by a different amount in each
        # process.
        if names:
            one_pass = lambda p: run.query_pass(names, sf_dir, p)  # noqa: E731
        else:
            one_pass = run.convert_pass
        own0, t = run.own_s, time.perf_counter()
        one_pass(0)
        run.layers["warmup.first_pass_s"] = (
            time.perf_counter() - t - (run.own_s - own0))
        if names:
            run.query_check_pass(names, sf_dir, 1)
        else:
            one_pass(1)
            run.verify_converted(run.records)
        run.records.clear()  # warm-up requests are not measured
        for p in range(2, WARMUP_PASSES[args.workload]):
            one_pass(p)
        if not names:
            run.verify_converted(run.records)
        run.records.clear()
        first_measured = WARMUP_PASSES[args.workload]

        setup_s = time.perf_counter() - T_START - run.own_s
        steal0, load0 = cpu_steal_ticks(), os.getloadavg()
        pass_s, pass_cpu, next_pass = measure(run, one_pass, first_measured)
        steal = cpu_steal_ticks() - steal0
        measured = [r["latency_s"] for r in run.records]
        if args.trace:
            run.probe = tracing.SparkProbe(run.spark)
            run.tracer.on = True
            traced_s, _, _ = measure(run, one_pass, next_pass)
        if not names:
            run.verify_converted(run.records)
        peak_rss = tree_peak_rss_mb()
    finally:
        if run.spark is not None:
            if run.probe:
                run.probe.close()
            workloads.stop_spark(run.spark)
        shutil.rmtree(tmp, ignore_errors=True)

    wall_s = median(pass_s)
    samples = {"setup_s": 1, "wall_s": len(pass_s),
               "latency_p50_s": len(measured), "cpu_s": len(pass_cpu)}
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": os.cpu_count(), "spark_cores": CORES,
        "samples": samples,
        "fail_frac": run.failed / max(1, run.attempted),
        "cpu_steal_ticks": steal, "loadavg_start": list(load0),
        "loadavg_end": list(os.getloadavg()),
        "pass_s": [round(x, 4) for x in pass_s],
        "pass_cpu_s": [round(x, 3) for x in pass_cpu],
        "cpu_s": median(pass_cpu), "peak_rss_mb": peak_rss, **run.notes,
    }
    hi = _high_percentile(measured)
    if hi:
        detail["latency_high"] = hi
    conv = [r["landing"] for r in run.records if "landing" in r]
    if conv:
        detail["bytes_out_per_in"] = (
            sum(land.get("out_bytes", 0) for land in conv)
            / sum(land["in_bytes"] for land in conv))

    if args.trace:
        traced_wall = median(traced_s)
        layers = layer_metrics(run, len(traced_s))
        layers["trace.untraced_wall_s"] = (wall_s, "s")
        layers["trace.traced_wall_s"] = (traced_wall, "s")
        layers["trace.overhead_s"] = (traced_wall - wall_s, "s")
        metrics = layers
        path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"detail": detail,
                       "metrics": {k: v for k, (v, _) in layers.items()},
                       "self_time_s": run.tracer.self_times(),
                       "requests": [
                           {k: v for k, v in r.items() if k != "landing"}
                           for r in run.records if r["traced"]],
                       "spans": run.tracer.spans},
                      f, default=str, indent=1)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall_s, "s"),
            "latency_p50_s": (median(measured), "s"),
        }
    log = os.path.join(WORK, f"run-{args.workload}-{args.seed}-t{args.trace}.json")
    with open(log, "w") as f:
        json.dump({"detail": detail, "requests": [
            {k: r[k] for k in ("rid", "name", "latency_s", "traced")}
            for r in run.records]}, f)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _high_percentile(xs: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it, when
    there are at least twenty samples."""
    n = len(xs)
    if n < 20:
        return None
    k = n - 10
    return {"p": round(k / n, 4), "value_s": sorted(xs)[k - 1], "n": n}


if __name__ == "__main__":
    sys.exit(main())
