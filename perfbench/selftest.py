"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py

In one process: the convert and tail workloads run once untraced and once
traced on tiny inputs (landings of 1 and 3 files; two queries over sf0.001
tables), then once each with a deliberately corrupted output. It checks
that every metric named in BENCHMARK.json is emitted with its unit, that
the detail line gives a sample count for every end-to-end metric, that the
clean runs are correct, and that corruption raises the failure share.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run as bench  # noqa: E402
import workloads  # noqa: E402


def invoke(workload: str, trace: int) -> tuple[dict, dict]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code = bench.main(["--workload", workload, "--seed", "7",
                           "--seconds", "0", "--trace", str(trace)])
    if code != 0:
        raise SystemExit(f"{workload}: exit code {code}")
    lines = buf.getvalue().strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")


def check_emitted(spec: dict, workload: str, trace: int) -> None:
    detail, result = invoke(workload, trace)
    expect(set(result) == {"correct", "attempted", "failed", "metrics"},
           f"{workload}: result keys {sorted(result)}")
    expect(result["correct"] and result["failed"] == 0
           and detail["fail_frac"] == 0.0, f"{workload}: clean run failed")
    for m in spec["per_layer" if trace else "end_to_end"]:
        got = result["metrics"].get(m["name"])
        expect(got is not None, f"{workload}: {m['name']} missing")
        expect(got["unit"] == m["unit"], f"{workload}: {m['name']} unit")
        expect(isinstance(got["value"], (int, float)),
               f"{workload}: {m['name']} value")
        if not trace:
            expect(detail["samples"].get(m["name"], 0) >= 1,
                   f"{workload}: {m['name']} sample count")


def check_corrupted(workload: str) -> None:
    detail, result = invoke(workload, 0)
    expect(result["failed"] > 0 and detail["fail_frac"] > 0
           and not result["correct"], f"{workload}: corruption not caught")


def main() -> int:
    bench.pin_environment()
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    import pyarrow as pa
    import pyarrow.parquet as pq

    from json_parquet_convertor_spark import convert, registry

    registry.load_all()
    workloads.LANDING_SIZES = (1, 3)
    workloads.TAIL = ("q_topk", "q_udf_arrow")
    workloads.SF = 0.001
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    for workload in ("convert", "tail"):
        for trace in (0, 1):
            check_emitted(spec, workload, trace)

    original = convert.json_to_parquet_per_file

    def off_by_one_age(spark, src, dst):
        back = original(spark, src, dst)
        path = os.path.join(dst, sorted(os.listdir(dst))[0])
        table = pq.read_table(path)
        ages = pa.array([(a + 1) % 100 for a in table["age"].to_pylist()],
                        pa.int8())
        pq.write_table(table.set_column(3, table.schema.field(3), ages), path)
        return back

    convert.json_to_parquet_per_file = off_by_one_age
    try:
        check_corrupted("convert")
    finally:
        convert.json_to_parquet_per_file = original

    topk = registry.QUERIES["q_topk"]
    registry.QUERIES["q_topk"] = lambda spark, d: topk(spark, d).limit(1)
    try:
        check_corrupted("tail")
    finally:
        registry.QUERIES["q_topk"] = topk
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
