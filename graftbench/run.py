#!/usr/bin/env python3
"""The graft benchmark: one command per workload and seed.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source (build.py), generates the input tables
once per scale (gen_data.py, cached under the build dir), runs one engine
JVM for the workload, checks every output outside the timed region, and
prints as its last stdout line one JSON object with the keys correct,
attempted, failed and metrics. --trace 0 prints the end-to-end metrics of
BENCHMARK.json, --trace 1 the per-layer ones. Failed operations are
named on stderr and the full figures are kept in <build dir>/results/.

Extra flags for the benchmark's own tests: --scale <sf> runs every
workload on that scale factor; --corrupt-expected plants one wrong
expected result, which the run must report as a failure.
"""
import argparse
import hashlib
import json
import os
import queue
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen_data  # noqa: E402
import http_workload  # noqa: E402

# workload -> scale factor of its tables
WORKLOADS = {"registry_board": 0.01, "http_mixed": 0.01}
DATA_SEED = 42
JVM_TIMEOUT_S = 165
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def load(path):
    with open(path) as f:
        return json.load(f)


def die(msg):
    sys.stderr.write(f"graftbench: {msg}\n")
    sys.exit(2)


def data_dir(sf):
    path = os.path.join(build.build_dir(), "data", f"sf{sf}-seed{DATA_SEED}")
    if not os.path.exists(os.path.join(path, ".done")):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_data.generate(tmp, sf, DATA_SEED)
        open(os.path.join(tmp, ".done"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    return path


def prepare_expected(data):
    """The expected result of every row the board checks. It depends only
    on the build and the tables, so it is computed on the board's first
    run and cached after.
    """
    oracles_file = os.path.join(build.classes_dir(), "oracles.json")
    if not os.path.exists(oracles_file):
        r = subprocess.run(jvm_cmd(build.build_dir(), ["--workload", "oracles",
                                                       "--out", build.classes_dir()]),
                           stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True)
        if r.returncode != 0:
            die(f"oracle dump failed: {r.stderr[-2000:]}")
    con = checks.connect(data, threads=4)
    for name, sql in load(oracles_file).items():
        checks.expected(con, os.path.join(data, "expected"), name, sql)
    con.close()


def jvm_cmd(work, args):
    return (["java"] + ADD_OPENS + [
        "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
        "-Dspark.sql.codegen.cache.maxEntries=4096", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={work}/tmp", f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
        f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
        "-cp", build.classpath(), "graftbench.Main"] + args)


def percentile(xs, p):
    if not xs:
        return 0.0
    s = sorted(xs)
    r = p * (len(s) - 1)
    lo, hi = int(r), min(int(r) + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


def median(xs):
    return percentile(xs, 0.5)


class Lines:
    """Stdout lines of a child process, readable with a deadline."""

    def __init__(self, stream):
        self.q = queue.Queue()
        threading.Thread(target=self._pump, args=(stream,), daemon=True).start()

    def _pump(self, stream):
        for line in stream:
            self.q.put(line.rstrip("\n"))
        self.q.put(None)

    def wait_for(self, prefix, deadline):
        while True:
            try:
                line = self.q.get(timeout=max(0.1, deadline - time.time()))
            except queue.Empty:
                die(f"timed out waiting for '{prefix}'")
            if line is None:
                die(f"process ended before '{prefix}'")
            if line.startswith(prefix):
                return line


def run_board(a, data, work, procs):
    args = ["--workload", "registry_board", "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--out", work]
    with open(os.path.join(work, "engine.log"), "w") as log:
        p = subprocess.Popen(jvm_cmd(work, args), cwd=work, stdout=log, stderr=log)
        procs.append(p)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die("engine JVM timed out")
    if p.returncode != 0:
        die(f"engine JVM exited {p.returncode}; see {work}/engine.log")
    eng = load(os.path.join(work, "engine.json"))
    failures = [(f["op"], f["error"]) for f in eng["failures"]]
    oracles = load(os.path.join(work, "oracle_sql.json"))
    con = checks.connect(data)
    failures += checks.compare_registry(con, os.path.join(work, "results"), oracles,
                                        os.path.join(data, "expected"),
                                        corrupt=a.corrupt_expected)
    f = eng["figures"]
    return f, eng["attempted"], failures, eng["rows"]


def run_http(a, data, work, procs):
    import pyarrow.parquet as pq
    sizes = {t: pq.read_metadata(os.path.join(data, f"{t}.parquet")).num_rows
             for t in ("orders", "customer", "supplier")}
    spec = http_workload.build(a.seed, sizes)
    if a.corrupt_expected:
        spec["expected"]["rep"][0][0] = str(int(spec["expected"]["rep"][0][0]) + 1)
    ops = os.path.join(work, "ops.json")
    with open(ops, "w") as f:
        json.dump(spec, f)
    args = ["--workload", "http_mixed", "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--out", work, "--ops", ops]
    deadline = time.time() + JVM_TIMEOUT_S
    log = open(os.path.join(work, "engine.log"), "w")
    jvm = subprocess.Popen(jvm_cmd(work, args), cwd=work, stdin=subprocess.PIPE,
                           stdout=subprocess.PIPE, stderr=log, text=True)
    procs.append(jvm)
    jvm_out = Lines(jvm.stdout)
    port = jvm_out.wait_for("@@ready", deadline).split()[1]

    def tell(cmd):
        jvm.stdin.write(cmd + "\n")
        jvm.stdin.flush()

    client_out = os.path.join(work, "client.json")
    client = subprocess.Popen([sys.executable, os.path.join(HERE, "client.py"), ops, port,
                               str(a.seconds), client_out],
                              stdout=subprocess.PIPE, text=True)
    procs.append(client)
    c_lines = Lines(client.stdout)
    c_lines.wait_for("@@begin", deadline)
    tell("start")
    c_lines.wait_for("@@timed_done", deadline)
    tell("stop")
    client.wait(timeout=max(1, deadline - time.time()))
    tell("finish")
    try:
        jvm.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        die("engine JVM timed out")
    log.close()
    if client.returncode != 0 or jvm.returncode != 0:
        die(f"client exited {client.returncode}, engine exited {jvm.returncode}; "
            f"see {work}/engine.log")
    eng = load(os.path.join(work, "engine.json"))
    cl = load(client_out)
    failures = [(f["op"], f["error"]) for f in eng["failures"] + cl["failures"]]
    attempted = eng["attempted"] + cl["attempted"]
    con = checks.connect(data)
    for entry in cl["bodies"].values():
        op = entry["op"]
        attempted += 1
        try:
            got = checks.parse_body(entry["body"], op["format"])
            exp = checks.twin_rows(con, http_workload.twin_sql(op))
            if got != exp:
                failures.append((op["tpl"], f"params {op['params']}: {len(got)} rows vs "
                                 f"DuckDB {len(exp)}; first engine {got[:1]} DuckDB {exp[:1]}"))
        except Exception as e:
            failures.append((op["tpl"], f"check raised {type(e).__name__}: {e}"))
    f = eng["figures"]
    sel = cl["select_ms"]
    ops_done = len(sel) + len(cl["insert_ms"]) + len(cl["optimize_ms"])
    f["op_p50_ms"] = median(sel)
    f["op_p95_ms"] = percentile(sel, 0.95)
    f["ops_per_s"] = len(sel) / cl["window_s"]
    f["cpu_ms_per_op"] = f["cpu_s"] * 1000 / max(1, ops_done)
    f["selects"] = len(sel)
    f["http.ttfb_ms"] = median(cl["ttfb_ms"])
    f["http.body_ms"] = median(cl["body_ms"])
    f["http.insert_p50_ms"] = median(cl["insert_ms"])
    f["http.insert_p95_ms"] = percentile(cl["insert_ms"], 0.95)
    inputs = hashlib.sha1(json.dumps([spec["readers"], spec["writer"]]).encode()).hexdigest()
    return f, attempted, failures, inputs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, help="tables' scale factor for every workload")
    ap.add_argument("--corrupt-expected", action="store_true")
    a = ap.parse_args()
    bench = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench):
        die(f"{bench} not found")
    spec = load(bench)
    build.build()
    data = data_dir(a.scale or WORKLOADS[a.workload])
    if a.workload == "registry_board":
        prepare_expected(data)
    work = os.path.join(build.build_dir(), "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    procs = []
    try:
        if a.workload == "http_mixed":
            figs, attempted, failures, inputs = run_http(a, data, work, procs)
        else:
            figs, attempted, failures, inputs = run_board(a, data, work, procs)
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    figs["error_rate"] = len(failures) / max(1, attempted)
    keep = os.path.join(build.build_dir(), "results")
    os.makedirs(keep, exist_ok=True)
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "inputs": inputs,
              "figures": figs, "attempted": attempted, "failures": failures}
    with open(os.path.join(keep, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    if os.path.exists(os.path.join(work, "spans.jsonl")):
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(keep, f"{a.workload}-seed{a.seed}-spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    for op, why in failures:
        sys.stderr.write(f"graftbench: FAILED {op}: {why}\n")
    metrics = spec["per_layer"] if a.trace else spec["end_to_end"]
    out = {m["name"]: {"value": float(figs.get(m["name"], 0.0)), "unit": m["unit"]}
           for m in metrics}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": out}))


if __name__ == "__main__":
    main()
