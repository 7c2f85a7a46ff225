"""Seeded inputs, request lists and correctness checks of the workloads.

Everything here is the benchmark's own work: it is timed apart from the
program and excluded from ``setup_s``. The program receives only the files
generated here.

Run as a script, it generates one seeded table set (used in a child process,
so that table generation never warms the measured JVM):

    python3 perfbench/workloads.py gen <out_dir> <seed> <sf>
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Scale of the generated query tables. At sf0.1 a 36-query tail run took
# about 100 s on a 4-core host (cold pass, checked pass and measured pass),
# which does not fit the run budget; at sf0.01 the tail stays
# overhead-bound, which is what it exists to measure.
SF = 0.01

# Cheap registered queries, one or two per operator family: per-request
# fixed cost (lineage build, Catalyst, job scheduling, the Arrow worker
# boundary) dominates their latency. q_stream_stateful is the one heavy
# member: it keeps the streaming state store measured.
TAIL = (
    "q_agg_having q_pivot q_join_anti q_join_inner q_join_broadcast "
    "q_win_rank q_win_sessionize q_sql_cte q_filter_like q_topk "
    "q_udf_python q_udf_arrow q_text_stats q_stream_stateful"
).split()

UDF_QUERIES = ("q_udf_python", "q_udf_arrow")

# One landing per size in every convert pass: both the per-call and the
# per-file cost show, and every pass converts the same number of files.
LANDING_SIZES = (1, 2, 4, 8, 16, 32, 64)

_NAMES = (
    "Jon AMY KIM Ana Bo Chen Dana Eli Fay Gus Hal Ivy Jun Kai Lea Mo Ned "
    "Oda Pia Quin Rui Sol Tao Uma Vic Wen Xia Yan Zed"
).split()
_NON_ASCII = ("Zoë", "José", "Łukasz", "Đorđe", "李雷", "Ñandú", "Ömer", "Søren")
_NATIONS = ("CM", "AC", "US", "FR", "JP", "BR", "IN", "DE")
_BAD_AGES = ("forty", True, [3], {"years": 4})


def _person(rng: random.Random, allow_malformed: bool) -> tuple[dict, tuple | None]:
    """One input record and its expected output row (None: dropped)."""
    rec = {
        "ID": str(rng.randrange(10**9)),
        "name": rng.choice(_NAMES),
        "nationality": rng.choice(_NATIONS),
        "age": rng.randrange(0, 121),
    }
    roll = rng.random()
    if roll < 0.05:
        rec["name"] = rng.choice(_NON_ASCII)
    elif roll < 0.10:
        for k in rng.sample(sorted(rec), rng.randint(1, 3)):
            del rec[k]
    elif roll < 0.15:
        rec["shoe_size"] = rng.randrange(30, 50)
        rec["email"] = f"u{rng.randrange(1000)}@example.org"
    elif roll < 0.18 and allow_malformed:
        rec["age"] = rng.choice(_BAD_AGES)
        return rec, None
    row = (
        rec.get("ID", ""),
        rec.get("name", ""),
        rec.get("nationality", ""),
        rec.get("age", 0),
    )
    return rec, row


def landing_pass(seed: int, pass_no: int, root: str) -> list[dict]:
    """Write one pass of seeded landings under ``root``, one per size in
    ``LANDING_SIZES``, in seeded order.

    Each landing is a directory of one-object-per-file person JSON, the
    reference's shape: ``{"src", "files", "in_bytes", "expected"}`` where
    ``expected`` maps each output name ``<file>.parquet`` to its row. The
    first file of every landing is always well-formed: a landing with no
    valid record makes the conversion's read-back of an empty prefix
    raise."""
    rng = random.Random(f"{seed}:{pass_no}")
    landings = []
    for size in LANDING_SIZES:
        src = os.path.join(root, f"p{pass_no}_n{size}")
        shutil.rmtree(src, ignore_errors=True)
        os.makedirs(src)
        expected, in_bytes = {}, 0
        for k in range(size):
            rec, row = _person(rng, allow_malformed=k > 0)
            name = f"person{k}.json"
            body = json.dumps(rec, indent=1, ensure_ascii=False) + "\n"
            with open(os.path.join(src, name), "w", encoding="utf-8") as f:
                f.write(body)
            in_bytes += len(body.encode("utf-8"))
            if row is not None:
                expected[name + ".parquet"] = row
        landings.append(
            {"src": src, "files": size, "in_bytes": in_bytes,
             "expected": expected}
        )
    rng.shuffle(landings)
    return landings


def check_converted(dst: str, expected: dict) -> tuple[bool, str, int]:
    """Compare one conversion's output prefix with the reference rules:
    one ``<key>.parquet`` per valid input holding exactly its row, zero
    fill for missing keys, a non-null TINYINT ``age``, no other files.
    Returns (ok, detail, parquet bytes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    got = sorted(f for f in os.listdir(dst) if not f.startswith((".", "_")))
    if got != sorted(expected):
        return False, f"files {got[:3]}.. != {sorted(expected)[:3]}..", 0
    want_schema = pa.schema([
        pa.field("id", pa.string(), nullable=False),
        pa.field("name", pa.string(), nullable=False),
        pa.field("nationality", pa.string(), nullable=False),
        pa.field("age", pa.int8(), nullable=False),
    ])
    out_bytes = 0
    for name, row in expected.items():
        path = os.path.join(dst, name)
        out_bytes += os.path.getsize(path)
        table = pq.read_table(path)
        if not table.schema.equals(want_schema):
            return False, f"{name}: schema {table.schema}", out_bytes
        rows = [tuple(r.values()) for r in table.to_pylist()]
        if rows != [row]:
            return False, f"{name}: rows {rows} != [{row}]", out_bytes
    return True, f"{len(expected)} files match", out_bytes


def tables_dir(work: str, seed: int, sf: float) -> tuple[str, float]:
    """The seeded query tables for (seed, sf), generated on first use in a
    child process and cached. Returns (dir, seconds spent generating)."""
    out = os.path.join(work, "tables", f"seed{seed}_sf{sf}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out, 0.0
    t0 = time.perf_counter()
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "gen", tmp, str(seed),
         str(sf)],
        check=True, stdout=sys.stderr,
    )
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, time.perf_counter() - t0


def _gen(out: str, seed: int, sf: float) -> None:
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    import gen_fixtures

    from json_parquet_convertor_spark.session import get_spark

    gen_fixtures.SEED = seed
    spark = get_spark(app_name="perfbench-gen", cpus=4)
    try:
        gen_fixtures.build(spark, out, sf)
    finally:
        stop_spark(spark)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and with it the Python
    workers it forked) to exit. The JVM leaves when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


if __name__ == "__main__":
    if len(sys.argv) != 5 or sys.argv[1] != "gen":
        sys.exit("usage: workloads.py gen <out_dir> <seed> <sf>")
    _gen(sys.argv[2], int(sys.argv[3]), float(sys.argv[4]))
