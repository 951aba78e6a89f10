#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload olap-llm --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The first run, and every run after a
change to the engine or harness sources, builds the harness and the engine
from source with sbt (perfbench/build.sbt); the first also copies the sf0.01
test data into .bench_build/. Each run starts the harness JVM on local[nproc]
with a pinned heap, measures, checks the outputs untimed, and prints as its
last stdout line one JSON object: correct, attempted, failed and metrics
(the end-to-end metrics with --trace 0, the per-layer ones with --trace 1).
A summary with spans and self times is kept in .bench_build/results/ for
`python3 perfbench/compare.py A B`.
"""
import argparse
import hashlib
import http.client
import json
import os
import queue
import re
import shutil
import subprocess
import sys
import threading
import time
import urllib.parse
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import loadgen  # noqa: E402
import stats  # noqa: E402

HEAP = "3g"
CPUS = os.cpu_count() or 4
TIMEOUT_S = 170

# One query per EDA shape (group-by mean, value counts, top-N, histogram,
# quantiles, cumulative sum) plus TPC-H scan/filter (Q6) and join (Q3),
# chosen among StarQueries and TpchQueries so a steady pass fits the run.
OLAP = [
    "q_group_mean", "q_value_counts", "q_topk", "q_histogram", "q_quantiles", "q_cumsum",
    "q_tpch_q6", "q_tpch_q3",
]
# One query per LLM-data operator family: dedup, LSH, semantic dedup, ANN,
# tokenizers, graph fixed points, recs/golden record, learned scoring and
# streaming.
LLM_DATA = [
    "q_span_dedup", "q_simhash_pairs", "q_semantic_dedup", "q_ivf_topk",
    "q_bpe_learn", "q_pagerank", "q_golden_record", "q_quality_logreg", "q_stream_topk",
]
# pages per second and seconds of each dashboard phase
PHASES = [("low", 0.5, 8.0), ("high", 1.0, 8.0)]
ENDPOINTS = ["filters", "summary", "top-cities", "top-states", "price-buckets",
             "price-hist", "scatter-rating-price", "mini-rows"]

WORKLOADS = {
    "olap-llm": {"queries": OLAP + LLM_DATA, "min_steady": 1},
    "listings": {"min_steady": 0},
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def test_data_dir(root):
    """The sf0.01 directory named in the repo's TESTDATA.md."""
    m = re.search(r"\|\s*0\.01\s*\|\s*`([^`]+)`", (root / "TESTDATA.md").read_text())
    if not m:
        raise SystemExit("TESTDATA.md names no sf0.01 directory")
    return Path(m.group(1))


def source_digest(root):
    """Digest of everything the build compiles, and of the query list the
    oracle SQL is written for: the engine sources, the harness and the
    build files."""
    h = hashlib.sha256(",".join(WORKLOADS["olap-llm"]["queries"]).encode())
    files = [root / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (root / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        h.update(f"\0{f.relative_to(root)}\0".encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(root, bdir):
    """Compiles harness and engine and writes the oracle SQL whenever the
    sources differ from the last build in this checkout; returns the
    classpath."""
    if not (root / "build.sbt").exists() or not (root / "src" / "main").is_dir():
        raise SystemExit("no engine sources next to the benchmark: run from a checkout root")
    digest = source_digest(root)
    stamp = bdir / "build.json"
    if stamp.exists():
        last = json.loads(stamp.read_text())
        if last["digest"] == digest:
            return last["classpath"]
        stamp.unlink()
    bdir.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g "
                       + (f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}"
                          if (Path.home() / ".sbt" / "repositories").exists() else ""))
    log("building harness and engine with sbt")
    with open(bdir / "build.log", "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=root / "perfbench", env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL).returncode
    lines = (bdir / "build.log").read_text().strip().splitlines()
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        raise SystemExit(f"sbt build failed (rc={rc}); see {bdir / 'build.log'}")
    cp = lines[-1]
    data = bdir / "sf"
    if not data.exists():
        shutil.copytree(test_data_dir(root), data.with_suffix(".tmp"))
        data.with_suffix(".tmp").rename(data)
    # the DuckDB references, computed ahead of the runs (some take seconds
    # each) and kept per SQL text, so only a changed oracle is recomputed
    import oracle
    names = WORKLOADS["olap-llm"]["queries"]
    subprocess.run(["java", "-cp", cp, "perfbench.Harness", "workload=oracles", f"out={bdir}",
                    f"queries={','.join(names)}"], check=True, stdin=subprocess.DEVNULL,
                   stdout=subprocess.DEVNULL)
    sql = json.loads((bdir / "oracle_sql.json").read_text())
    for name in names:
        if name in sql:
            oracle.reference(data, bdir / "oracle", name, sql[name])
    stamp.write_text(json.dumps({"digest": digest, "classpath": cp}))
    return cp


# ---------------------------------------------------------------- JVM

class Jvm:
    """The harness process and its @@perfbench protocol lines."""

    def __init__(self, cp, run_dir, args):
        self.run_dir = run_dir
        tmp = run_dir / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *opens, f"-Djava.io.tmpdir={tmp}",
                "-cp", cp, "perfbench.Harness"] + [f"{k}={v}" for k, v in args.items()])
        self.err = open(run_dir / "jvm.log", "w")
        self.t0 = time.monotonic()
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.err, text=True, cwd=run_dir)
        self.lines = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.proc.stdout:
            if line.startswith("@@perfbench "):
                self.lines.put(line.split()[1:])
        self.lines.put(None)

    def expect(self, word, deadline):
        while True:
            try:
                msg = self.lines.get(timeout=max(0.1, deadline - time.monotonic()))
            except queue.Empty:
                raise RuntimeError(f"harness timed out waiting for '{word}'") from None
            if msg is None:
                raise RuntimeError(f"harness exited before '{word}'; see {self.run_dir / 'jvm.log'}")
            if msg[0] == word:
                return msg[1:]

    def send(self, word):
        self.proc.stdin.write(word + "\n")
        self.proc.stdin.flush()

    def finish(self, deadline):
        self.expect("done", deadline)
        self.proc.wait(timeout=max(1, deadline - time.monotonic()))
        return json.loads((self.run_dir / "out" / "result.json").read_text())

    def stop(self):
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self.err.close()


# ---------------------------------------------------------------- workloads

def run_queries(workload, cp, run_dir, data, seed, seconds, trace, deadline):
    spec = WORKLOADS[workload]
    jvm = Jvm(cp, run_dir, {
        "workload": workload, "out": run_dir / "out", "work": run_dir / "work",
        "cpus": CPUS, "seed": seed, "seconds": seconds, "min_steady": spec["min_steady"],
        "trace": trace, "sf": data, "queries": ",".join(spec["queries"])})
    try:
        jvm.expect("ready", deadline)
        ready_s = time.monotonic() - jvm.t0
        res = jvm.finish(deadline)
    finally:
        jvm.stop()
    res["ready_s"] = ready_s
    return res


def fetch(conn, path):
    conn.request("GET", path)
    r = conn.getresponse()
    return r.status, r.read()


def run_listings(cp, run_dir, seed, trace, deadline):
    inputs = run_dir / "inputs"
    inputs.mkdir(parents=True, exist_ok=True)
    raw, truth = gen.raw_listings(seed)
    (inputs / "raw.csv").write_bytes(raw)
    views = gen.page_views(seed, truth["states"], truth["keywords"], PHASES)
    # every filter the mix can draw, so warm-up and checks do the same work
    # for every seed
    filters = sorted(set(gen.filter_mix(truth["states"], truth["keywords"])))
    (inputs / "filters.tsv").write_text("".join(f"{s}\t{k}\n" for s, k in filters))
    jvm = Jvm(cp, run_dir, {
        "workload": "listings", "out": run_dir / "out", "work": run_dir / "work",
        "cpus": CPUS, "seed": seed, "seconds": 0, "min_steady": WORKLOADS["listings"]["min_steady"],
        "trace": trace, "raw": inputs / "raw.csv", "filters": inputs / "filters.tsv"})
    try:
        jvm.expect("ready", deadline)
        ready_s = time.monotonic() - jvm.t0
        port, start_s = jvm.expect("serving", deadline)
        conns = [http.client.HTTPConnection("127.0.0.1", int(port), timeout=60) for _ in range(4)]

        def page(view, conn):
            q = {k: view[k] for k in ("state", "keyword") if view[k]}
            qs = ("?" + urllib.parse.urlencode(q)) if q else ""
            out = []
            for ep in ENDPOINTS:
                t = time.monotonic()
                status, body = fetch(conn, f"/api/{ep}/{qs}")
                out.append((ep, status, body, time.monotonic() - t))
            return out

        # server warm-up, part of set-up: two rounds of four page views, one
        # per connection, that request every filter of the mix, so the
        # measured pages find the request path compiled and JIT-warm
        warm = ([{"state": st, "keyword": kw} for st, kw in filters] * 2)[:2 * len(conns)]
        t = time.monotonic()
        loadgen.run_schedule([0.0] * len(warm), lambda i, w: page(warm[i], conns[w]), workers=len(conns))
        warm_s = time.monotonic() - t
        jvm.send("measure")
        records = loadgen.run_schedule([v["due_s"] for v in views],
                                       lambda i, w: page(views[i], conns[w]), workers=len(conns))
        for c in conns:
            c.close()
        jvm.send("done")
        res = jvm.finish(deadline)
    finally:
        jvm.stop()
    res.update(ready_s=ready_s, server_start_s=float(start_s), warm_s=warm_s,
               views=views, records=records, truth=truth)
    return res


# ---------------------------------------------------------------- checks

def check_queries(root, bdir, workload, res):
    import oracle
    names = WORKLOADS[workload]["queries"]
    ops = [o for p in res["passes"] for o in p["ops"]]
    failed_ops = sum(1 for o in ops if not o["ok"])
    bad = dict(res["dump_errors"])
    sql = json.loads((bdir / "oracle_sql.json").read_text())
    bad.update(oracle.check(root, bdir / "sf", bdir / "oracle", Path(res["out_dir"]) / "results",
                            sql, [n for n in names if n not in bad]))
    # a wrong result makes every timed run of that query a failed operation
    wrong = sum(1 for o in ops if o["ok"] and o["name"] in bad)
    return len(ops), failed_ops + wrong, bad


def check_listings(res):
    """Every response is HTTP 200 and JSON-equal to the direct computation;
    ETL counts equal the generator's injected truth."""
    direct = {(d["endpoint"], d["state"], d["keyword"]): json.loads(d["json"]) for d in res["direct"]}
    bad, failed_views, n_req, bad_req = {}, 0, 0, 0
    for view, rec in zip(res["views"], res["records"]):
        ok = not isinstance(rec["result"], Exception)
        if ok:
            for ep, status, body, _ in rec["result"]:
                n_req += 1
                key = (ep, "" if ep == "filters" else view["state"], "" if ep == "filters" else view["keyword"])
                fine = status == 200 and json.loads(body) == direct.get(key)
                if not fine:
                    bad_req += 1
                    bad.setdefault(f"{ep} {view['state']}|{view['keyword']}", f"status {status}")
                ok = ok and fine
        else:
            bad.setdefault("page view", repr(rec["result"]))
        failed_views += not ok
    chk, truth = res["etl_check"], res["truth"]
    for k in ("rows_in", "rows_clean"):
        if chk[k] != truth[k]:
            bad[f"etl {k}"] = f"{chk[k]} vs {truth[k]}"
    if chk["issues"] != truth["issues"]:
        bad["etl issues"] = f"{chk['issues']} vs {truth['issues']}"
    etl_failed = sum(1 for k in bad if k.startswith("etl "))
    attempted = len(res["views"]) + len(res["passes"])
    return attempted, failed_views + (len(res["passes"]) if etl_failed else 0), bad, n_req, bad_req


# ---------------------------------------------------------------- metrics

def steady(res):
    return [p for p in res["passes"] if p["kind"] == "steady"]


def e2e_metrics(workload, res):
    """A pass is one sweep over the workload's operations: for olap-llm every
    query once; for listings the cold pass is ETL + EDA and a steady pass is
    one dashboard page view (its 8 requests), timed from its due time.
    Steady passes and operations are summarised by their geometric mean,
    which averages over the mix where a median of a few dozen samples of
    unlike operations jumps between them."""
    if workload == "listings":
        setup = res["ready_s"] + res["server_start_s"] + res["warm_s"]
        ok = [r for r in res["records"] if not isinstance(r["result"], Exception)]
        passes = [r["latency_s"] for r in ok]
        ops = [t * 1e3 for r in ok for _, _, _, t in r["result"]]
    else:
        setup = res["ready_s"]
        passes = [p["wall_s"] for p in steady(res)]
        ops = [o["total_s"] * 1e3 for p in steady(res) for o in p["ops"] if o["ok"]]
    return ops, {
        "setup_s": (setup, "s"),
        "first_pass_s": (res["passes"][0]["wall_s"], "s"),
        "steady_pass_s": (stats.geomean(passes), "s"),
        "op_ms.geomean": (stats.geomean(ops), "ms"),
        "retained_heap_mb": (res["retained_heap_mb"], "MB"),
    }


def layer_metrics(res, ops, attempted, failed, serve=None):
    spans = res["spans"]
    by_id = {s["id"]: s for s in spans}

    def pass_of(s):
        while s["parent"] != -1:
            s = by_id[s["parent"]]
        return s

    # per-pass figures come from the steady passes, or the cold pass where
    # the workload has no steady one
    measured = steady(res) or res["passes"][:1]
    names = {f"pass-{p['index']}" for p in measured}
    n = max(1, len(measured))

    def in_steady(kind):
        return [s for s in spans if s["kind"] == kind and pass_of(s)["kind"] == "pass"
                and pass_of(s)["name"] in names]

    def total(kind, key=None):
        ss = in_steady(kind)
        if key is None:
            return sum(s["end_ns"] - s["start_ns"] for s in ss) / 1e9 / n
        return sum(s["counts"].get(key, 0.0) for s in ss) / n

    pc = lambda k: total("pass", k)  # noqa: E731
    mb = 1048576.0
    first = res["passes"][0]
    # the first pass less its untimed result dumps
    first_counts = dict(next((s["counts"] for s in spans if s["kind"] == "pass" and s["name"] == "pass-0"), {}))
    for s in spans:
        if s["kind"] == "check":
            for k, v in s["counts"].items():
                first_counts[k] = first_counts.get(k, 0.0) - v

    def set_query_s(group):
        return sum(s["end_ns"] - s["start_ns"] for s in in_steady("query") if s["name"] in group) / 1e9 / n

    pass_wall = total("pass")
    loads = [s for s in spans if s["kind"] == "tables.load"]
    cnt = res["counters"]
    m = {
        "tables.load_ms": stats.median([(s["end_ns"] - s["start_ns"]) / 1e6 for s in loads]) or 0.0,
        "tables.load_jobs": sum(s["counts"].get("jobs", 0) for s in loads) / max(1, len(loads)),
        "build.tables_jobs": total("build", "jobs_tables"),
        "build.s": total("build"),
        "build.share": total("build") / total("query") if total("query") else 0.0,
        "build.jobs": total("build", "jobs"),
        "build.operators_jobs": total("build", "jobs_operators"),
        "build.result_mb": total("build", "result_bytes") / mb,
        "plan.analysis_s": pc("plan_analysis_ms") / 1e3,
        "plan.optimization_s": pc("plan_optimization_ms") / 1e3,
        "plan.planning_s": pc("plan_planning_ms") / 1e3,
        "olap.query_s": set_query_s(OLAP),
        "llm.query_s": set_query_s(LLM_DATA),
        "codegen.compiles": first_counts.get("compiles", 0.0),
        "codegen.compile_s": first_counts.get("compile_ms", 0.0) / 1e3,
        "codegen.steady_compiles": pc("compiles"),
        "codegen.first_minus_steady_s": first["wall_s"] - stats.median([p["wall_s"] for p in measured]),
        "exec.jobs": pc("jobs"),
        "exec.stages": pc("stages"),
        "exec.tasks": pc("tasks"),
        "exec.task_run_s": pc("task_run_ms") / 1e3,
        "exec.task_cpu_s": pc("task_cpu_ns") / 1e9,
        "exec.sched_delay_s": pc("sched_delay_ms") / 1e3,
        "exec.busy_ratio": pc("task_run_ms") / 1e3 / (pass_wall * CPUS) if pass_wall else 0.0,
        "exec.input_mb": pc("input_bytes") / mb,
        "exec.shuffle_read_mb": pc("shuffle_read_bytes") / mb,
        "exec.shuffle_write_mb": pc("shuffle_write_bytes") / mb,
        "exec.result_mb": pc("result_bytes") / mb,
        "exec.spill_mb": pc("spill_bytes") / mb,
        "exec.gc_s": pc("task_gc_ms") / 1e3,
        "cache.blocks_put": pc("blocks_put"),
        "cache.blocks_dropped": pc("blocks_dropped"),
        "cache.peak_mb": cnt.get("cache_peak_bytes", 0.0) / mb,
        "cache.capacity_mb": res["cache_capacity_mb"],
        "stream.batches": pc("stream_batches"),
        "stream.empty_batch_ratio": (pc("stream_empty_batches") / pc("stream_batches")
                                     if pc("stream_batches") else 0.0),
        "stream.batch_ms.p50": stats.percentile(res["batch_ms"], 50) or 0.0,
        "stream.state_rows": cnt.get("stream_state_rows_max", 0.0),
        "stream.state_mb": cnt.get("stream_state_bytes_max", 0.0) / mb,
        "etl.s": total("etl"),
        "etl.build_s": total("etl.build"),
        "etl.build_jobs": total("etl.build", "jobs"),
        "etl.read_tasks": total("etl", "input_tasks"),
        "etl.write_s": total("etl.write"),
        "eda.s": total("eda"),
        "eda.datasets_s": total("eda.datasets"),
        "eda.render_s": total("eda.render"),
        "eda.jobs": total("eda", "jobs"),
        "jvm.gc_s": res["jvm"]["gc_s"],
        "jvm.gc_count": res["jvm"]["gc_count"],
        "jvm.heap_peak_mb": res["jvm"]["heap_peak_mb"],
        # traced time over the same time less what taking snapshots cost
        "trace.overhead_ratio": (sum(p["wall_s"] for p in res["passes"])
                                 / sum(p["wall_s"] - p["trace_s"] for p in res["passes"])),
        "fail_ratio": failed / attempted,
        "op_ms.p50": stats.percentile(ops, 50) or 0.0,
        "op.samples": len(ops),
    }
    chk = res.get("etl_check")
    m.update({
        "etl.rows_in": chk["rows_in"] if chk else 0.0,
        "etl.rows_clean": chk["rows_clean"] if chk else 0.0,
        "etl.rows_issues": sum(chk["issues"].values()) if chk else 0.0,
        "etl.out_bytes_ratio": chk["out_bytes"] / chk["raw_bytes"] if chk else 0.0,
    })
    m.update(serve_metrics(res, serve))
    return m


def serve_metrics(res, serve):
    keys = ["serve.plan_ms_per_req", "serve.compiles_per_req", "serve.jobs_per_req",
            "serve.direct_ms.p50", "serve.error_ratio", "gen.late_ms.max",
            "page_ms.mean.low", "page_ms.mean.high"]
    keys += [f"serve.{ep.replace('-', '_')}_ms.mean" for ep in ENDPOINTS]
    m = dict.fromkeys(keys, 0.0)
    if serve is None:
        return m
    n_req, bad_req = serve
    span = next(s for s in res["spans"] if s["kind"] == "serve")["counts"]
    m["serve.plan_ms_per_req"] = sum(span.get(f"plan_{p}_ms", 0.0)
                                     for p in ("analysis", "optimization", "planning")) / n_req
    m["serve.compiles_per_req"] = span.get("compiles", 0.0) / n_req
    m["serve.jobs_per_req"] = span.get("jobs", 0.0) / n_req
    m["serve.direct_ms.p50"] = stats.percentile([d["ms"] for d in res["direct"]], 50) or 0.0
    m["serve.error_ratio"] = bad_req / n_req
    recs = [r for r in res["records"] if not isinstance(r["result"], Exception)]
    m["gen.late_ms.max"] = max(r["late_s"] * 1e3 for r in res["records"])
    # too few page views per phase for a percentile: the mean per phase
    for phase, _, _ in PHASES:
        lat = [r["latency_s"] * 1e3 for v, r in zip(res["views"], res["records"]) if v["phase"] == phase]
        m[f"page_ms.mean.{phase}"] = sum(lat) / len(lat)
    # too few requests per endpoint for a percentile: the mean per endpoint
    for ep in ENDPOINTS:
        lat = [t * 1e3 for r in recs for e, _, _, t in r["result"] if e == ep]
        m[f"serve.{ep.replace('-', '_')}_ms.mean"] = sum(lat) / len(lat)
    return m


def summary_spans(res):
    """JVM spans with self times, plus page view -> request spans."""
    selfs = stats.self_times(res["spans"])
    out = [dict(s, self_ns=selfs[s["id"]]) for s in res["spans"]]
    nid = len(out)
    for i, (v, r) in enumerate(zip(res.get("views", []), res.get("records", []))):
        if isinstance(r["result"], Exception):
            continue
        due = int(v["due_s"] * 1e9)
        page = {"id": nid, "parent": -1, "kind": "page", "name": f"{v['phase']}-{i}",
                "start_ns": due, "end_ns": due + int(r["latency_s"] * 1e9), "counts": {}}
        reqs, t = [], due + int(r["late_s"] * 1e9)
        for j, (ep, status, _, sec) in enumerate(r["result"]):
            reqs.append({"id": nid + 1 + j, "parent": nid, "kind": "request", "name": ep,
                         "start_ns": t, "end_ns": t + int(sec * 1e9), "counts": {"status": status}})
            t += int(sec * 1e9)
        group = [page] + reqs
        selfs = stats.self_times(group)
        out += [dict(s, self_ns=selfs[s["id"]]) for s in group]
        nid += len(group)
    return out


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = Path.cwd()
    bdir = root / ".bench_build"
    cp = build(root, bdir)
    deadline = time.monotonic() + TIMEOUT_S
    run_dir = bdir / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)

    if a.workload == "listings":
        res = run_listings(cp, run_dir, a.seed, a.trace, deadline)
        attempted, failed, bad, n_req, bad_req = check_listings(res)
        serve = (n_req, bad_req)
    else:
        res = run_queries(a.workload, cp, run_dir, bdir / "sf", a.seed, a.seconds, a.trace, deadline)
        res["out_dir"] = str(run_dir / "out")
        attempted, failed, bad = check_queries(root, bdir, a.workload, res)
        serve = None
    for k, v in sorted(bad.items()):
        log(f"check failed: {k}: {v}")

    ops, e2e = e2e_metrics(a.workload, res)
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in
                   layer_metrics(res, ops, attempted, failed, serve).items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    missing = [k for k, v in metrics.items() if v["value"] is None]
    if missing:
        raise SystemExit(f"no samples for {missing}")
    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "op_ms": ops,
               "metrics": metrics, "checks": bad, "spans": summary_spans(res) if a.trace else []}
    (bdir / "results").mkdir(exist_ok=True)
    (bdir / "results" / f"{a.workload}-s{a.seed}-t{a.trace}.json").write_text(json.dumps(summary))
    shutil.rmtree(run_dir, ignore_errors=True)
    for k, v in metrics.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(f"op_ms over {len(ops)} operations")
    print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def unit_of(name):
    if "_ms" in name:
        return "ms"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("ratio", "share")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
