#!/usr/bin/env python3
"""arunaspark benchmark: one command per run.

    python3 perfbench/run.py --workload <interactive|curation> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The first run builds the
engine and this harness from source (sbt); later runs reuse the build until
a source file changes. Each run then generates its input tables and request
stream from the seed, computes the expected gate results with DuckDB, and
starts one JVM that measures the workload (see src/main/scala/perfbench).
The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

and the exit code is 1 when any operation failed or returned a wrong result.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones of a traced window (between two untraced ones on the same
seed, which give the tracing overhead). Everything the run writes stays under
.bench_build/ and perfbench/target/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import requests  # noqa: E402

# execution-heavy pipeline gates, in the order each pass runs them; dd15
# also reads a maintained Store index
CURATION = ["dd6_lsh_verified", "dc1_decontaminate", "ann8_knn_join_ivf", "dd15_lsh_maintained"]

# the gates each workload runs; a workload without gates runs the read clients
WORKLOADS = {"interactive": [], "curation": CURATION}
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RUN_LIMIT_S = 175


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_stamp() -> str:
    h = hashlib.sha256()
    # run.py names the gates whose oracle SQL the build extracts
    for top in (ROOT / "src" / "main", HERE / "src", ROOT / "build.sbt", HERE / "build.sbt", HERE / "run.py",
                ROOT / "project" / "build.properties", HERE / "project" / "build.properties"):
        files = sorted(p for p in top.rglob("*") if p.is_file()) if top.is_dir() else [top]
        for p in files:
            st = p.stat()
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build() -> tuple:
    """Compiles engine + harness when sources changed; returns (classpath, oracle SQL)."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (ROOT / "build.sbt").is_file():
        raise SystemExit("perfbench: the engine sources are not in this checkout")
    target = HERE / "target"
    stamp, cp_file, sql_file = target / "build.stamp", target / "classpath.txt", target / "oracle_sql.json"
    want = source_stamp()
    if not (stamp.is_file() and stamp.read_text() == want and cp_file.is_file() and sql_file.is_file()):
        log("building engine and harness (sbt)")
        t0 = time.time()
        for f in (stamp, cp_file, sql_file):
            f.unlink(missing_ok=True)
        subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, stdout=sys.stderr, check=True, timeout=800)
        out = subprocess.run(["java", "-cp", cp_file.read_text(), "perfbench.OracleSql",
                              *CURATION], check=True, capture_output=True, text=True,
                             timeout=120)
        sql_file.write_text(out.stdout.strip().splitlines()[-1])
        stamp.write_text(want)
        log(f"build done in {time.time() - t0:.0f}s")
    return cp_file.read_text(), json.loads(sql_file.read_text())


def oracle(data: Path, out: Path, gates: list, sql: dict) -> None:
    """Expected gate results: each gate's oracle SQL run by DuckDB on the same tables."""
    import duckdb
    out.mkdir()
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data / t}.parquet')")
    for g in gates:
        q = sql[g].strip().rstrip(";")
        con.execute(f"COPY ({q}) TO '{out / g}.parquet' (FORMAT PARQUET)")
    con.close()


def input_size(data: Path) -> tuple:
    import pyarrow.parquet as pq
    files = [data / f"{t}.parquet" for t in TABLES]
    return (sum(f.stat().st_size for f in files) / 2**20,
            sum(pq.read_metadata(f).num_rows for f in files))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    classpath, sql = build()
    started = time.time()

    work = ROOT / ".bench_build" / f"run-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = work / "data"
        gen.generate(str(data), a.seed)
        mb, rows = input_size(data)
        log(f"{a.workload}: input {mb:.1f} MB, {rows} rows (sf0.1)")
        gates = WORKLOADS[a.workload]
        clients = 0 if gates else requests.CLIENTS
        if clients:
            requests.write(str(work), a.seed)
        if gates:
            t0 = time.time()
            oracle(data, work / "oracle", gates, sql)
            log(f"oracle results in {time.time() - t0:.1f}s")
        for d in ("tmp", "spark-local", "warehouse"):
            (work / d).mkdir()
        cmd = ["java", *JAVA_OPTS, "-Xmx4g", "-XX:+UseG1GC",
               f"-Djava.io.tmpdir={work / 'tmp'}",
               f"-Dspark.local.dir={work / 'spark-local'}",
               f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
               f"-Dderby.system.home={work / 'tmp'}",
               f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
               "-cp", classpath, "perfbench.Main",
               "--data", str(data), "--pool", str(work / "pool.tsv"),
               "--stream", str(work / "stream.tsv"), "--clients", str(clients),
               "--gates", ",".join(gates), "--oracle", str(work / "oracle"),
               "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--out", str(work / "out.json")]
        limit = max(RUN_LIMIT_S - (time.time() - started), 10)
        subprocess.run(cmd, cwd=work, stdout=sys.stderr, check=True, timeout=limit)
        res = json.loads((work / "out.json").read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # the metrics BENCHMARK.json declares, in its order and with its units
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer" if a.trace else "end_to_end"]
    measured = res["per_layer" if a.trace else "end_to_end"]
    out = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in spec}
    extra = {k: round(v, 3) for k, v in measured.items() if k not in out}
    if extra:
        log(f"also measured: {json.dumps(extra)}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": out}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
