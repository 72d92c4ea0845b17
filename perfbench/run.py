#!/usr/bin/env python3
"""Run one benchmark workload from a seed.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
harness with sbt; later runs reuse the build while the sources are
unchanged. The last stdout line is one JSON object: with `--trace 0` the
end-to-end metrics of BENCHMARK.json, with `--trace 1` its per-layer
metrics. The full record of the run goes to perfbench/out/.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(HERE, ".build")
OUT = os.path.join(HERE, "out")
NPROC = 4
JVM_HEAP = "3g"
JVM_HEAP_MIN = "2g"  # a fixed heap floor keeps heap sizing, and with it GC CPU, steady
RUN_LIMIT_S = 170

DASHBOARD_OPS = ["overview", "orders_by_date", "orders_by_date_range",
                 "top_customers_intended", "recent_orders", "customer_region",
                 "point_lookup", "orders_overview_by_tenant", "orders_rollup",
                 "running_revenue"]
SEARCH_OPS = ["bm25_topk_served", "bm25_topk_indexed", "ann_ivf_topk", "ann_ivf_topk_pq",
              "hybrid_topk_rrf", "cosine_topk"]
CURATE_OPS = ["curation_pipeline", "minhash_near_dup", "simhash_dedup_keep",
              "substring_dedup", "contaminate_spans", "quality_report", "classifier_score",
              "chunk_embed_topk"]
SERVE_TENANTS = 4
# Offered load, requests per second over all tenants: 30% of the median
# capacity_rps measured on a 4-core host (6.4 req/s), a moderately loaded
# service where queueing shows without saturating the pool
SERVE_RATE = 1.9
SERVE_SEARCH_PER_BLOCK = 3  # search ops per block of the ten dashboard ops
SERVE_OPEN_BLOCKS = 1     # mix blocks in the open loop; the closed loop takes the rest
INGEST_COMPACT_EVERY = 4

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_key():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")):
        for d, subs, names in os.walk(top):
            subs[:] = sorted(s for s in subs if s not in ("target", "project", ".bsp"))
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith((".scala", ".sbt"))]
    files.append(os.path.join(HERE, "harness", "project", "build.properties"))
    for f in files:
        if not os.path.isfile(f):
            fail(f"missing build input {os.path.relpath(f, ROOT)}; run from the repository root")
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build once per source state; return the runtime classpath."""
    key = sources_key()
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    if os.path.isfile(stamp) and open(stamp).read() == key and os.path.isfile(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        env["SBT_OPTS"] = "-Xmx3g -Dsbt.offline=true" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.isfile(repos) else "")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"],
                            cwd=os.path.join(HERE, "harness"), env=env, stdout=fh,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL).returncode
    lines = open(log).read().splitlines()
    cp = [ln for ln in lines if ln.startswith("/") and "classes" in ln and ".jar" in ln]
    if rc != 0 or not cp:
        fail(f"build failed (rc={rc}); see {os.path.relpath(log, ROOT)}")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    with open(stamp, "w") as fh:
        fh.write(key)
    return cp[-1]


def make_inputs(workload, seed, seconds, data):
    """Generate the run's inputs; returns (description, jvm args)."""
    shutil.rmtree(data, ignore_errors=True)
    if workload == "serve":
        info = gen.gen_serve(data, seed, SERVE_OPEN_BLOCKS, SERVE_TENANTS, SERVE_RATE,
                             DASHBOARD_OPS, SEARCH_OPS, SERVE_SEARCH_PER_BLOCK)
        if seconds - info["open_s"] < 2:
            fail(f"--seconds must leave the closed loop 2 s after the {info['open_s']:.1f} s open loop")
        args = dict(schedule=f"{data}/schedule.tsv", capacity=f"{data}/capacity.tsv",
                    open_s=info["open_s"], search_ops=",".join(SEARCH_OPS))
    elif workload == "curate":
        info = gen.gen_curate(data, seed)
        args = dict(ops=",".join(CURATE_OPS))
    else:
        info = gen.gen_ingest(data, seed)
        args = dict(batches=f"{data}/batches.tsv", compact_every=INGEST_COMPACT_EVERY)
    args["dirs"] = ",".join(info.pop("dirs"))
    return info, args


def oracle_check(verify_dirs, data_dirs):
    """Compare each dumped op against its DuckDB oracle with tools/check.py's
    own comparison; returns {op@dir: "OK" or the failure line}."""
    spec = importlib.util.spec_from_file_location("check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    verdicts = {}
    for vdir, ddir in zip(verify_dirs, data_dirs):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            check.main(ddir, vdir)
        for ln in buf.getvalue().splitlines():
            word, _, rest = ln.partition(" ")
            if word in ("OK", "FAIL", "EMPTY"):
                name = rest.strip().split(":")[0]
                verdicts[f"{name}@{os.path.basename(ddir)}"] = "OK" if word == "OK" else ln.strip()
    return verdicts


def unit_of(name):
    """Unit of a printed table value, read off its name."""
    for suffix, unit in (("_per_s", "1/s"), ("_rps", "1/s"), ("_ms", "ms"), ("_ms_per_op", "ms"),
                         ("_s", "s"), ("_mb", "MB"), ("_pct", "percentile"), ("_n", "count"),
                         ("passes", "count"), ("_amp", "ratio"), ("_ratio", "ratio"),
                         ("_exhausted", "flag")):
        if name.endswith(suffix):
            return unit
    return ""


def ms(ns):
    return ns / 1e6


def units_of_work(workload, res):
    """Requests (serve), curation ops (curate) or batches (ingest) run."""
    if workload == "serve":
        c = res["closed"]
        return len(res["open"]["records"]) + c["completed"] + c["overrun"] + c["failed"]
    return len(res["records"]) if workload == "curate" else res["batches"]


def end_to_end(workload, jvm, info, gen_ms):
    """Returns (metrics, table, attempted, failed, failures)."""
    res = jvm["result"]
    s = jvm["setup"]
    setup_s = (gen_ms + s["start_ms"] + s["warmup_ms"] + s["train_ms"]) / 1e3
    failures = {}
    table = {}
    if workload == "serve":
        recs = res["open"]["records"]
        for r in recs:
            if r["error"]:
                failures[r["op"]] = r["error"]
        for e in res["closed"]["errors"]:
            failures.setdefault(e.split(":")[0], e.split(": ", 1)[-1])
        lat = stats.open_loop(recs)
        dash = [ms(x["latency"]) for x, r in zip(lat, recs) if r["cls"] == "dashboard"]
        search = [ms(x["latency"]) for x, r in zip(lat, recs) if r["cls"] == "search"]
        d_tail, d_p, d_n = stats.tail(dash)
        s_tail, s_p, s_n = stats.tail(search)
        # too few requests of either class for a tail alone: pool them
        r_tail, r_p, r_n = stats.tail(dash + search)
        capacity = res["closed"]["completed"] / (res["closed"]["window_ns"] / 1e9)
        table.update(dashboard_p50_ms=statistics.median(dash), dashboard_tail_ms=d_tail,
                     dashboard_tail_pct=d_p, dashboard_n=d_n,
                     search_p50_ms=statistics.median(search), search_tail_ms=s_tail,
                     search_tail_pct=s_p, search_n=s_n, request_tail_ms=r_tail,
                     request_tail_pct=r_p, request_n=r_n, capacity_rps=capacity)
        c = res["closed"]
        attempted = res["open"]["scheduled"] + c["completed"] + c["overrun"] + c["failed"]
        failed = (sum(1 for r in recs if r["error"]) + res["open"]["scheduled"] - len(recs)
                  + res["closed"]["failed"])
        e2e = dict(p50_ms=table["dashboard_p50_ms"], tail_ms=r_tail,
                   aux_mean_ms=statistics.mean(search), rate_per_s=capacity)
    elif workload == "curate":
        recs = res["records"]
        passes = {}
        for r in recs:
            passes.setdefault(r["pass"], []).append(r)
            if r["error"]:
                failures[r["op"]] = r["error"]
        pass_ms = [ms(max(r["end_ns"] for r in p) - min(r["start_ns"] for r in p))
                   for p in passes.values() if len(p) == len(CURATE_OPS)]
        op_ms = [ms(r["end_ns"] - r["start_ns"]) for r in recs]
        o_tail, o_p, o_n = stats.tail(op_ms)
        rate = info["docs"] * len(pass_ms) / (sum(pass_ms) / 1e3)
        table.update(pass_s=statistics.median(pass_ms) / 1e3, passes=len(pass_ms),
                     op_p50_ms=statistics.median(op_ms), op_tail_ms=o_tail, op_tail_pct=o_p,
                     op_n=o_n, docs_per_s=rate)
        attempted, failed = len(recs), sum(1 for r in recs if r["error"])
        e2e = dict(p50_ms=statistics.median(pass_ms), tail_ms=o_tail,
                   aux_mean_ms=statistics.mean(op_ms), rate_per_s=rate)
    else:
        recs = res["records"]
        for r in recs:
            if r["error"]:
                failures[f'{r["kind"]}.{r.get("name", "fold")}'] = r["error"]
        batch = [ms(r["end_ns"] - r["start_ns"]) for r in recs if r["kind"] == "batch"]
        read = [ms(r["end_ns"] - r["start_ns"]) for r in recs if r["kind"] == "read"]
        b_tail, b_p, b_n = stats.tail(batch)
        rows = sum(r["rows"] for r in recs if r["kind"] == "batch")
        rate = rows / (res["window_ns"] / 1e9)
        table.update(batch_p50_ms=statistics.median(batch), batch_tail_ms=b_tail,
                     batch_tail_pct=b_p, batch_n=b_n, read_p50_ms=statistics.median(read),
                     space_amp=res["state_bytes"] / res["folded_bytes"], rows_per_s=rate,
                     pool_exhausted=res["exhausted"])
        attempted, failed = len(recs), sum(1 for r in recs if r["error"])
        e2e = dict(p50_ms=table["batch_p50_ms"], tail_ms=b_tail,
                   aux_mean_ms=statistics.mean(read), rate_per_s=rate)
    e2e["setup_s"] = setup_s
    e2e["live_heap_mb"] = jvm["live_heap_bytes"] / 2**20
    # compute cost: CPU of the whole process over the measured window, per
    # request / curation op / batch completed in it
    e2e["cpu_ms_per_op"] = ms(jvm["measure_cpu_ns"]) / max(units_of_work(workload, res), 1)
    table.update(aux_mean_ms=e2e["aux_mean_ms"], cpu_ms_per_op=e2e["cpu_ms_per_op"],
                 setup_s=setup_s, live_heap_mb=e2e["live_heap_mb"],
                 peak_rss_mb=jvm["peak_rss_kb"] / 1024.0)
    return e2e, table, attempted, failed, failures


def per_layer(workload, jvm, gen_ms, e2e):
    """Layer numbers of a traced run: per unit of work (request, curation
    op or batch) unless named otherwise."""
    spans = jvm["spans"]
    selfs = stats.self_times(spans)
    units_prefix = {"serve": ("o", "c"), "curate": ("p",), "ingest": ("b",)}[workload]
    measured = [s for s in spans if s["req"].startswith(units_prefix)]
    res = jvm["result"]
    units = max(units_of_work(workload, res), 1)

    def dur(s):
        return s["t1_ns"] - s["t0_ns"]

    def per_unit(pred, f):
        return sum(f(s) for s in measured if pred(s)) / units

    def count(key, pred=lambda s: True):
        return per_unit(pred, lambda s: s["counts"].get(key, 0))

    not_build = lambda s: s["layer"] != "operators"  # noqa: E731
    setup = jvm["setup"]
    m = {
        "session.start_ms": setup["start_ms"],
        "session.warmup_ms": setup["warmup_ms"],
        "registries.train_ms": setup["train_ms"],
        "inputs.gen_ms": gen_ms,
        "Tables.load_ms": ms(per_unit(lambda s: s["layer"] == "Tables", dur)),
        "Tables.scan_bytes": count("in_bytes"),
        "Tables.scan_rows": count("in_rows"),
        "operators.build_ms": ms(per_unit(lambda s: s["layer"] == "operators", dur)),
        "operators.build_jobs": count("jobs", lambda s: s["layer"] == "operators"),
        "plans.optimize_ms": ms(per_unit(lambda s: s["name"] == "optimize", dur)),
        "plans.plan_ms": ms(per_unit(lambda s: s["name"] == "plan", dur)),
        "plans.exchanges": count("exchanges"),
        "exec.ms": ms(per_unit(lambda s: s["layer"] == "exec", dur)),
        "exec.jobs": count("jobs", not_build),
        "exec.stages": count("stages", not_build),
        "exec.tasks": count("tasks", not_build),
        "exec.cpu_ms": count("cpu_ns") / 1e6,
        "exec.gc_ms": count("gc_ms"),
        "exec.shuffle_bytes": count("shuffle_bytes"),
        "exec.spill_bytes": count("spill_bytes"),
        "exec.failed_tasks": count("failed_tasks"),
        "exec.sched_delay_ms": count("sched_delay_ms"),
    }
    window_ns = (res["open"]["window_ns"] + res["closed"]["window_ns"]
                 if workload == "serve" else res["window_ns"])
    m["exec.cpu_util"] = count("cpu_ns") * units / (window_ns * NPROC)
    if workload == "serve":
        lat = stats.open_loop(res["open"]["records"])
        m["serve.queue_wait_ms"] = ms(statistics.mean(x["queue"] for x in lat))
        m["serve.late_ms"] = ms(statistics.mean(x["late"] for x in lat))
    else:
        m["serve.queue_wait_ms"] = m["serve.late_ms"] = 0.0
    batches = [r for r in res.get("records", []) if r.get("kind") == "batch"]
    for stream in ("overview", "cdc", "lex"):
        folds = [ms(dur(s)) for s in measured if s["name"] == f"fold.{stream}"]
        m[f"streaming.fold_ms.{stream}"] = statistics.median(folds) if folds else 0.0
    m["streaming.compact_ms"] = ms(per_unit(lambda s: s["name"] == "compact", dur)) + count(
        "compact_job_ms", lambda s: s["name"] != "compact")
    m["streaming.pending_dirs"] = (statistics.mean(r["pending_dirs"] for r in batches)
                                   if batches else 0.0)
    m["streaming.files_per_batch"] = (statistics.mean(r["new_files"] for r in batches)
                                      if batches else 0.0)
    folded_bytes = sum(r["bytes"] for r in batches)
    m["streaming.write_amp"] = (count("out_bytes") * units / folded_bytes) if folded_bytes else 0.0
    m["streaming.space_amp"] = (res["state_bytes"] / res["folded_bytes"]
                                if workload == "ingest" else 0.0)
    # a request's or pass's root span is the harness's own time around the layers
    for key, layer in (("Tables", "Tables"), ("operators", "operators"), ("plans", "plans"),
                       ("exec", "exec"), ("streaming", "streaming"), ("harness", workload)):
        m[f"self_ms.{key}"] = ms(per_unit(lambda s: s["layer"] == layer,
                                          lambda s: selfs[s["id"]]))
    for k in ("p50_ms", "tail_ms", "aux_mean_ms", "rate_per_s"):
        m[f"trace.{k}"] = e2e[k]
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "curate", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()
    t_start = time.time()
    for f in ("build.sbt", os.path.join("tools", "check.py"), os.path.join("src", "main")):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"{f} not found: run from the root of a repository checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = classpath()

    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data = os.path.join(work, "data")
    t0 = time.perf_counter()
    info, args = make_inputs(a.workload, a.seed, a.seconds, data)
    gen_ms = (time.perf_counter() - t0) * 1e3
    args.update(workload=a.workload, nproc=NPROC, seconds=a.seconds, trace=a.trace, work=work)
    cmd = (["java", f"-Xms{JVM_HEAP_MIN}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp"] + ADD_OPENS
           + ["-cp", cp, "perfbench.Main"] + [f"{k}={v}" for k, v in args.items()])
    log = os.path.join(work, "jvm.log")
    budget = RUN_LIMIT_S - (time.time() - t_start) - 15
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=max(budget, 30)).returncode
        except subprocess.TimeoutExpired:
            fail(f"the JVM did not finish in time; see {os.path.relpath(log, ROOT)}")
    if rc != 0 or not os.path.isfile(os.path.join(work, "jvm.json")):
        tail_lines = open(log).read().splitlines()[-15:]
        fail(f"the JVM failed (rc={rc}):\n" + "\n".join(tail_lines))
    with open(os.path.join(work, "jvm.json")) as fh:
        jvm = json.load(fh)

    e2e, table, attempted, failed, failures = end_to_end(a.workload, jvm, info, gen_ms)
    # correctness outside the timed region: oracles, reference errors, twins
    checks = jvm["checks"]
    for k, v in jvm["prepare"].get("errors", {}).items():
        failures[k] = f"reference execution failed: {v}"
    if "verify_dirs" in checks:
        data_dirs = checks.get("data_dirs", args["dirs"].split(","))
        for k, v in oracle_check(checks["verify_dirs"], data_dirs).items():
            if v != "OK":
                failures[k] = v
        # every response of an op@dir whose verified rows fail the oracle is wrong
        bad = {k for k, v in failures.items() if v.startswith("FAIL")}
        res = jvm["result"]
        if a.workload == "serve":
            failed += sum(1 for r in res["open"]["records"] if r["target"] in bad and not r["error"])
            failed += sum(n for t, n in res["closed"]["completed_by_target"].items() if t in bad)
        else:
            bad_ops = {k.split("@")[0] for k in bad}
            failed += sum(1 for r in res["records"] if r["op"] in bad_ops and not r["error"])
    for k, v in checks.get("twins", {}).items():
        if v is not None:
            failures[f"twin.{k}"] = v
            failed += 1
        attempted += 1
    table["error_ratio"] = failed / max(attempted, 1)
    correct = failed == 0 and not failures

    result = dict(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                  inputs=info, end_to_end=e2e, table=table, failures=failures,
                  attempted=attempted, failed=failed, setup=jvm["setup"], gen_ms=gen_ms,
                  prepare_ms=jvm["prepare"].get("ms"))
    names = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    if a.trace:
        layers = per_layer(a.workload, jvm, gen_ms, e2e)
        result["per_layer"] = layers
        result["spans"] = len(jvm["spans"])
        values = layers
    else:
        values = e2e
    os.makedirs(OUT, exist_ok=True)
    name = os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    with open(name + ".json", "w") as fh:
        json.dump(result, fh, indent=1, default=str)
    if a.trace:
        with open(name + ".spans", "w") as fh:
            json.dump(jvm["spans"], fh)

    for k, v in table.items():
        print(f"{a.workload}  {k:<24} {v} {unit_of(k)}")
    for k, v in failures.items():
        print(f"{a.workload}  FAILED {k}: {v}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
