#!/usr/bin/env python3
"""Repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run from the root of a checkout. It builds the engine and the harness
(`perfbench/build.py`), makes the workload's inputs from the seed,
runs the benchmark JVM (`perfbench/scala`), checks every output, and
prints one self-contained JSON line per metric
(`{"metric", "workload", "value", "unit", "n"}`), then, as the last
line, `{"correct", "attempted", "failed", "metrics"}` with the
end-to-end metrics of BENCHMARK.json (`--trace 0`) or its per-layer
metrics (`--trace 1`). Workload definitions, the stream ladder and the
layer map are in `perfbench/workloads.json`.

Batch outputs are checked against the registry's DuckDB oracle SQL
(row count plus an order-independent hash); the stream is checked in
the JVM against batch recomputations of the same pipelines. A failed
query, a terminated stream query or a wrong output counts in
`error_rate` and makes the exit code 1. `--smoke` runs the batch
workloads over sf0.001 (the stream runs as configured, for `--seconds`).

Everything is written under `.bench_build/` in the checkout.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


INTS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
        "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}


def canon_sql(c, t):
    """SQL for one comparable text form per value, with the oracle check's
    equalities: 1 == 1.0 == true, NaN == NaN, decimals as doubles, times
    as naive UTC."""
    if t in INTS or t == "VARCHAR" or t == "DATE":
        return f"CAST({c} AS VARCHAR)"
    if t in ("FLOAT", "DOUBLE") or t.startswith("DECIMAL"):
        d = f"CAST({c} AS DOUBLE)"
        return (f"CASE WHEN isnan({d}) THEN 'NaN' WHEN isfinite({d}) AND {d} = trunc({d}) "
                f"AND abs({d}) < 9.2e18 THEN CAST(CAST({d} AS BIGINT) AS VARCHAR) "
                f"ELSE CAST({d} AS VARCHAR) END")
    if t == "BOOLEAN":
        return f"CAST(CAST({c} AS INTEGER) AS VARCHAR)"
    if t == "TIMESTAMP WITH TIME ZONE":
        return f"CAST(timezone('UTC', {c}) AS VARCHAR)"
    if t.startswith("TIMESTAMP"):
        return f"CAST(CAST({c} AS TIMESTAMP) AS VARCHAR)"
    if t in ("FLOAT[]", "DOUBLE[]"):
        return f"CAST(CAST({c} AS DOUBLE[]) AS VARCHAR)"
    return f"CAST({c} AS VARCHAR)"


def digest(con, sql):
    """Row count, order-independent hash and column names of a query result."""
    rel = con.sql(sql)
    cols = sorted(zip(rel.columns, (str(t) for t in rel.types)))
    row = ", ".join(f"coalesce({canon_sql(chr(34) + c + chr(34), t)}, '<null>')" for c, t in cols)
    n, h = con.sql(f"SELECT count(*), coalesce(sum(hash(concat_ws('|', {row}))::HUGEINT), 0) "
                   f"FROM ({sql.strip().rstrip(';')})").fetchone()
    return n, h, [c for c, _ in cols]


def check_batch(data, out, failed_ops):
    """Compare each query's Spark result with its DuckDB oracle."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    for res in sorted(glob.glob(os.path.join(out, "results", "*"))):
        name = os.path.basename(res)
        try:
            files = glob.glob(os.path.join(res, "*.parquet"))
            spark = digest(con, f"SELECT * FROM read_parquet({files!r})") if files \
                else (0, 0, None)
            if name in oracle:
                want = digest(con, oracle[name])
                if spark != want:
                    failed_ops.append((f"result {name}",
                                       f"spark (rows, hash, columns)={spark}, oracle={want}"))
            elif spark[0] == 0:
                failed_ops.append((f"result {name}", "no oracle and no rows"))
        except Exception as e:  # a broken result is a failed operation
            failed_ops.append((f"result {name}", str(e)[:400]))


def run_jvm(cp, root, cfg, jvm_args, timeout):
    os.makedirs(os.path.join(root, "tmp"), exist_ok=True)
    cmd = (["java"] + ADD_OPENS +
           [f"-Xmx{cfg['heap']}", f"-Xmn{cfg['young']}", "-XX:+UseG1GC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={root}/tmp", f"-Dspark.local.dir={root}/tmp",
            f"-Dspark.sql.warehouse.dir={root}/warehouse",
            "-cp", cp, "perfbench.Main"] + jvm_args)
    with open(os.path.join(root, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=root)
        try:
            stdout, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            raise RuntimeError(f"benchmark JVM timed out after {timeout:.0f} s")
    records = [json.loads(line[3:]) for line in stdout.splitlines() if line.startswith("PB ")]
    if p.returncode != 0 or not any("attempted" in r for r in records):
        with open(os.path.join(root, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise RuntimeError(f"benchmark JVM failed (exit {p.returncode})")
    return records


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    started = time.time()
    bench = json.load(open("BENCHMARK.json"))
    cfg = json.load(open(os.path.join(HERE, "workloads.json")))
    wl = cfg["workloads"][a.workload]
    cp = build.build()

    root = os.path.abspath(os.path.join(build.BUILD, "run", a.workload))
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    jvm_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--out", os.path.join(root, "out"),
                "--cpus", str(cfg["jvm"]["cpus"]), "--setups", str(cfg["jvm"]["setups"])]
    gen_s = 0.0
    if wl["kind"] == "batch":
        data = os.path.join(root, "data")
        t0 = time.perf_counter()
        gen.generate(data, 0.001 if a.smoke else wl["sf"], a.seed)
        gen_s = time.perf_counter() - t0
        jvm_args += ["--data", data, "--queries", ",".join(wl["queries"])]
    else:
        for k in ("rates", "rate_shares"):
            jvm_args += [f"--{k}", ",".join(str(x) for x in wl[k])]
        for k in ("warm_s", "chunk_ms", "speedup", "trigger_ms", "watermark_s", "late_share",
                  "limit_ms", "codes", "zipf_s"):
            jvm_args += [f"--{k}", str(wl[k])]

    timeout = cfg["jvm"]["timeout_s"] - (time.time() - started)
    records = run_jvm(cp, root, cfg["jvm"], jvm_args, timeout)
    m = {r["metric"]: r for r in records if "metric" in r}
    failures = [(r["failure"], r["msg"]) for r in records if "failure" in r]
    ops = [r for r in records if "attempted" in r][-1]
    attempted, failed = ops["attempted"], ops["failed"]
    if wl["kind"] == "batch":
        extra = []
        check_batch(data, os.path.join(root, "out"), extra)
        failures += extra
        failed += len(extra)

    def put(name, value, unit, n):
        m[name] = {"metric": name, "value": value, "unit": unit, "n": n}

    input_s = gen_s + m["setup.input_s"]["value"]
    setup = m["setup.jvm_s"]["value"] + input_s + m["setup.session_warmup_s"]["value"]
    put("setup.input_s", input_s, "s", 1)
    put("setup_s", setup, "s", m["setup.session_warmup_s"]["n"])
    put("error_rate", failed / max(attempted, 1), "ratio", attempted)
    if wl["kind"] == "batch":
        put("latency_p50_ms", m["query_p50_s"]["value"] * 1000, "ms", m["query_p50_s"]["n"])
        put("latency_tail_ms", m["query_p90_s"]["value"] * 1000, "ms", m["query_p90_s"]["n"])
        put("throughput_per_s", m["queries_per_s"]["value"], "1/s", m["queries_per_s"]["n"])
    else:
        for gated, name in (("latency_p50_ms", "stream_latency_p50_ms"),
                            ("latency_tail_ms", "stream_latency_p90_ms"),
                            ("throughput_per_s", "stream_saturated_eps")):
            put(gated, m[name]["value"], m[name]["unit"], m[name]["n"])

    for op, msg in failures:
        print(json.dumps({"failure": op, "workload": a.workload, "msg": msg}))
    for name in sorted(m):
        r = m[name]
        print(json.dumps({"metric": name, "workload": a.workload, "value": r["value"],
                          "unit": r["unit"], "n": r["n"]}))
    metrics = {}
    if a.trace:
        for spec in bench["per_layer"]:
            r = m.get(spec["name"])
            # a layer the workload never enters reports zero (e.g. no
            # stream triggers in a batch workload)
            value = r["value"] if r and r["value"] is not None else 0.0
            metrics[spec["name"]] = {"value": value, "unit": spec["unit"]}
    else:
        for spec in bench["end_to_end"]:
            r = m.get(spec["name"])
            if r is None or r["value"] is None:
                raise RuntimeError(f"end-to-end metric {spec['name']} was not measured")
            metrics[spec["name"]] = {"value": r["value"], "unit": spec["unit"]}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # no result line: the run did not complete
        sys.stderr.write(f"perfbench: {type(e).__name__}: {e}\n")
        sys.exit(2)
