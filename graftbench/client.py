#!/usr/bin/env python3
"""The http_mixed load: one process, two readers and one writer.

Readers run a closed loop over their seeded request lists until the
window ends; the writer sends a fixed number of CSV inserts spread evenly
over the window, with OPTIMIZE ... FINAL after every tenth. Latency is
client-side: from sending the request to the last response byte. After
the window the client checks the writer's tables against the totals
computed from what it sent, and keeps one body per distinct read for
run.py's DuckDB compare.

Usage: client.py <ops.json> <port> <seconds> <out.json>
"""
import hashlib
import http.client
import json
import sys
import threading
import time
import urllib.parse


def request(conn, sql, params=None, body=None):
    """POSTs one statement; returns (status, body, ttfb_s, total_s)."""
    qs = {"param_" + k: str(v) for k, v in (params or {}).items()}
    if body is not None:
        qs["query"] = sql
        payload = body
    else:
        payload = sql
    path = "/?" + urllib.parse.urlencode(qs) if qs else "/"
    t0 = time.perf_counter()
    conn.request("POST", path, body=payload.encode())
    resp = conn.getresponse()
    t1 = time.perf_counter()
    data = resp.read()
    t2 = time.perf_counter()
    return resp.status, data.decode("utf-8", "replace"), t1 - t0, t2 - t0


def stable(body, fmt):
    """The body without FORMAT JSON's timing statistics, which differ
    between identical requests."""
    if fmt.lower() != "json":
        return body
    obj = json.loads(body)
    obj.pop("statistics", None)
    return json.dumps(obj, sort_keys=True)


def key_of(op):
    return op["sql"] + "|" + json.dumps(op["params"], sort_keys=True)


def main(ops_path, port, seconds, out_path):
    with open(ops_path) as f:
        spec = json.load(f)
    lock = threading.Lock()
    res = {"select_ms": [], "ttfb_ms": [], "body_ms": [], "insert_ms": [],
           "optimize_ms": [], "failures": [], "attempted": 0, "bodies": {}}
    hashes = {}

    def fail(op, why):
        with lock:
            res["failures"].append({"op": op, "error": why[:300]})

    def reader(ops):
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        i = 0
        while time.perf_counter() < t_end:
            op = ops[i % len(ops)]
            i += 1
            try:
                status, body, ttfb, total = request(conn, op["sql"], op["params"])
            except Exception as e:
                fail(op["tpl"], f"{type(e).__name__}: {e}")
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
                continue
            with lock:
                res["attempted"] += 1
                if status != 200:
                    res["failures"].append({"op": op["tpl"], "error": body[:300]})
                    continue
                res["select_ms"].append(total * 1000)
                res["ttfb_ms"].append(ttfb * 1000)
                res["body_ms"].append((total - ttfb) * 1000)
                k = key_of(op)
                try:
                    h = hashlib.sha1(stable(body, op["format"]).encode()).hexdigest()
                except ValueError as e:
                    res["failures"].append({"op": op["tpl"], "error": f"bad body: {e}"})
                    continue
                if k not in hashes:
                    hashes[k] = h
                    res["bodies"][k] = {"op": op, "body": body}
                elif hashes[k] != h:
                    res["failures"].append(
                        {"op": op["tpl"], "error": "result differs between requests: "
                         f"params {op['params']}, first {res['bodies'][k]['body'][:400]!r}, "
                         f"now {body[:400]!r}"})
        conn.close()

    def writer(ops):
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        inserts = [op for op in ops if op["kind"] == "insert"]
        gap = seconds / len(inserts)
        n = 0
        for op in ops:
            if op["kind"] == "insert":
                due = t0 + n * gap
                n += 1
                time.sleep(max(0.0, due - time.perf_counter()))
                status, body, _, total = request(conn, op["query"], body=op["body"])
                name, bucket = "insert", "insert_ms"
            else:
                status, body, _, total = request(conn, op["sql"])
                name, bucket = "optimize", "optimize_ms"
            with lock:
                res["attempted"] += 1
                if status == 200:
                    res[bucket].append(total * 1000)
                else:
                    res["failures"].append({"op": name, "error": body[:300]})
        conn.close()

    print("@@begin", flush=True)
    t0 = time.perf_counter()
    t_end = t0 + seconds
    threads = [threading.Thread(target=reader, args=(ops,)) for ops in spec["readers"]]
    threads.append(threading.Thread(target=writer, args=(spec["writer"],)))
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    res["window_s"] = time.perf_counter() - t0
    print("@@timed_done", flush=True)

    # the writer's tables against the totals of what was sent
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    for name, sql in (("rep", spec["check_rep_sql"]), ("sum", spec["check_sum_sql"])):
        res["attempted"] += 1
        status, body, _, _ = request(conn, sql)
        got = [l.split("\t") for l in body.splitlines() if l]
        if status != 200 or got != spec["expected"][name]:
            fail(f"writer_check_{name}",
                 f"status {status}: got {got[:5]} expected {spec['expected'][name][:5]}")
    conn.close()
    with open(out_path, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]), sys.argv[4])
