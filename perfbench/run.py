"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload ci_pr --seed 1 --seconds 6 --trace 0

Run from the repository root. It compiles the program and the harness
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs the harness in one JVM on `local[4]`, checks
every output, and prints as its last line one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` gives the
end-to-end metrics, `--trace 1` the per-layer ones (perfbench/metrics.py).
"""
import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

# Input sizes per workload (rows). Small enough that one run, with its
# set-ups and warm-up, ends in about a minute on 4 cores.
SIZES = {
    "ci_pr": dict(orders=15_000),
    "llm_corpus": dict(docs=1_000, vecs=1_000),
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_flags(tmp):
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed heap keeps GC sizing the same from run to run
    return flags + ["-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false",
                    "-Dspark.sql.session.timeZone=UTC",
                    f"-Djava.io.tmpdir={tmp}"]


def run_harness(args, classpath, in_dir, run_dir, result):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + jvm_flags(tmp) + ["-cp", classpath, "graftbench.Harness",
           args.workload, str(args.seed), str(args.seconds), str(args.trace),
           in_dir, run_dir, result])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=log, start_new_session=True)
        try:
            code = proc.wait(timeout=args.seconds + 140)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    with open(os.path.join(run_dir, "jvm.log"), errors="replace") as fh:
        text = fh.read()
    if code != 0 or not os.path.exists(result):
        sys.stderr.write(text[-4000:])
        raise SystemExit(f"harness failed ({code})")
    sys.stderr.write("".join(l + "\n" for l in text.splitlines() if l.startswith("[graftbench]")))
    with open(result) as fh:
        return json.load(fh)


# ----------------------------------------------------------- output checks

def parquet_rows(path):
    import pyarrow.parquet as pq
    files = glob.glob(os.path.join(path, "*.parquet"))
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files) if files else None


def oracle_agrees(con, sql, path):
    """The DuckDB oracle compare of tools/check.py: same columns, same
    rows after sorting by every column, equal values."""
    import pandas as pd
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return False
    got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    exp = con.execute(sql).df()
    if sorted(got.columns) != sorted(exp.columns) or len(got) != len(exp):
        return False

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns), ignore_index=True)

    g, e = canon(got), canon(exp)
    for c in g.columns:
        if g[c].dtype.kind == "f" or e[c].dtype.kind == "f":
            ga, ea = g[c].astype(float).values, e[c].astype(float).values
            if (~((ga == ea) | (pd.isna(ga) & pd.isna(ea)))).any():
                return False
        elif (g[c].astype(str) != e[c].astype(str)).any():
            return False
    return True


def check_outputs(res):
    """Marks each timed op failed or not. An op fails if it raised, if
    the harness's own check failed, or if it wrote no rows. Each entry's
    output in the last unit must agree with the registry's DuckDB oracle
    over the same input files; the entry's other outputs must have the
    row count of that checked one."""
    import duckdb
    ops = [op for u in res["units"] for op in u["ops"]]
    for op in ops:
        op["failed"] = bool(op["error"]) or op["check_failed"]
        if not op["failed"] and op["out"]:
            op["rows"] = parquet_rows(op["out"])
            op["failed"] = not op["rows"]
    reference = {op["name"]: op for op in res["units"][-1]["ops"] if op["out"]}
    for name, op in reference.items():
        if op["failed"] or name not in res["oracles"]:
            continue
        con = duckdb.connect()
        for t in glob.glob(os.path.join(op["input"], "*.parquet")):
            table = os.path.basename(t)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{t}')")
        try:
            op["failed"] = not oracle_agrees(con, res["oracles"][name], op["out"])
        except Exception as e:  # an oracle that cannot run is a failed check
            sys.stderr.write(f"oracle {name}: {e}\n")
            op["failed"] = True
        con.close()
    for op in ops:
        ref = reference.get(op["name"])
        if ref and not op["failed"] and (ref["failed"] or op["rows"] != ref["rows"]):
            op["failed"] = True
        if op["failed"]:
            sys.stderr.write(f"FAILED {op['name']}: {op['error'] or 'output check'}\n")
    return len(ops), sum(op["failed"] for op in ops)


# ---------------------------------------------------------------- metrics

def end_to_end(res, input_bytes, attempted, failed):
    units = res["units"]
    walls = [u["wall"] for u in units]
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "latency_p50_s": statistics.median(walls),
        "engine_p50_s": statistics.median(u["engine"] for u in units),
        "units_per_min": 60.0 * len(walls) / sum(walls),
        "storage_ratio": statistics.median(
            u["warehouse_bytes"] for u in units) / input_bytes,
        "heap_peak_mb": res["heap_peak_bytes"] / 2**20,
        "ok_ratio": 1.0 - failed / attempted,
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build.build()
    run_dir = os.path.abspath(os.path.join(
        build.build_dir(), "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir = os.path.join(run_dir, "in")
    os.makedirs(in_dir)
    try:
        t0 = time.time()
        input_bytes = gen.generate(in_dir, args.seed, **SIZES[args.workload])
        t1 = time.time()
        res = run_harness(args, classpath, in_dir, run_dir, os.path.join(run_dir, "result.json"))
        t2 = time.time()
        attempted, failed = check_outputs(res)
        sys.stderr.write(f"[perfbench] inputs {t1 - t0:.1f}s, harness {t2 - t1:.1f}s, "
                         f"checks {time.time() - t2:.1f}s\n")
        if args.trace:
            traces = os.path.join(build.build_dir(), "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.json"), os.path.join(
                traces, f"{args.workload}-seed{args.seed}.json"))
            values = {n: res["layers"].get(n, 0.0) for n, _, _ in metrics.PER_LAYER}
            table = metrics.PER_LAYER
        else:
            values = end_to_end(res, input_bytes, attempted, failed)
            table = metrics.END_TO_END
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    out = {n: {"value": values[n], "unit": unit} for n, unit, *_ in table}
    print(json.dumps({"correct": failed == 0 and bool(res["units"]),
                      "attempted": attempted, "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
