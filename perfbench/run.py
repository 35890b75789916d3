#!/usr/bin/env python3
"""Benchmark of the graft engine: three workloads, one JVM per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --steadiness <runs> [--workload <name> ...] --seconds <s>

Run from the repository root. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while no source changes. All inputs derive from --seed; the engine
reads the sf0.1 tables under /root/testdata. The last line of standard
output is one JSON object: correct, attempted, failed and metrics (the
end-to-end metrics, or with --trace 1 the per-layer ones). See README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

ROOT = os.getcwd()
SF = "/root/testdata/sf0.1"
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_LIMIT_S = 150
# Runs do fixed numbers of whole passes and rounds, sized from --seconds
# with these estimates of one warm pass or round on a 4-core host, so
# that every run of a workload does the same work.
WARM_PASSES = 1
SERVE_SHARE = 0.6
SERVE_ROUND_EST_S = 6.5
INGEST_ROUND_EST_S = 3.5
CSV_ROWS = 25000

WORKLOADS = {
    # relational, analytics and event queries: Catalyst and Spark's scan,
    # join and aggregate execution do the work
    "relational_mix": {"queries": ["q05_nation_revenue", "q07_orders_with_bulk_items",
                                   "q21_orders_of_rich_customers", "q52_pattern_ops",
                                   "e07_asof_physical_operator"], "pass_est_s": 4.0},
    # LLM-pipeline operators: eager DataFrame build (memoCount probes,
    # gated collects, persists) and wide persisted plans do the work
    "pipeline_mix": {"queries": ["s13_mmr_rerank", "g06_adamic_adar", "g07_assortativity",
                                 "d05_neardup_clusters"], "pass_est_s": 4.3},
    "wire_traffic": {},
}

END_TO_END = {  # name -> unit
    "setup_s": "s", "jobs_per_pass": "count", "tasks_per_pass": "count",
    "shuffle_mb_per_pass": "MB", "jobs_per_op": "count", "tasks_per_op": "count",
}
PER_LAYER = {
    "time.pass_s": "s", "time.pass_cpu_s": "s",
    "time.op_ms": "ms", "time.ops_per_s": "1/s",
    "build.ms": "ms", "build.jobs": "count", "build.tasks": "count", "build.stages_256plus": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimize_ms": "ms", "catalyst.planning_ms": "ms",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count", "exec.stages_256plus": "count",
    "exec.tasks": "count", "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms",
    "exec.core_busy_frac": "ratio", "exec.shuffle_bytes": "bytes", "exec.spill_bytes": "bytes",
    "cache.persists": "count", "cache.bytes_left": "bytes",
    "wire.utility_rtt_ms": "ms", "wire.overhead_ms": "ms", "wire.connect_ms": "ms",
    "wire.bytes_out_per_call": "bytes",
    "serving.build_ms": "ms", "serving.exec_ms": "ms", "serving.jobs_per_call": "count",
    "serve.ann_p50_ms": "ms", "serve.bm25_p50_ms": "ms", "serve.hybrid_p50_ms": "ms",
    "serve.point_p50_ms": "ms",
    "copy.in_mb_s": "MB/s", "copy.out_mb_s": "MB/s", "copy.file_mb_s": "MB/s",
    "copy.parse_write_ms": "ms", "copy.transfer_ms": "ms",
    "layout.files_per_copy": "count", "layout.stored_bytes_per_input_byte": "ratio",
    "jvm.jit_ms": "ms/s", "jvm.gc_ms": "ms/s", "host.steal_frac": "ratio",
    "mem.retained_heap_mb": "MB", "trace.overhead_frac": "ratio",
}


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("error:", msg)
    sys.exit(code)


# ------------------------------------------------------------------- build

def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")]
    return files


def build():
    """Compile engine + harness with sbt unless this exact source set was
    built already; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    cp_file = os.path.join(BUILD, f"classpath-{h.hexdigest()[:16]}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=/root/.sbt/repositories -Dsbt.offline=true -Xmx2g")
    log("building engine and harness with sbt")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdout=out, stderr=subprocess.STDOUT, timeout=800)
    with open(os.path.join(BUILD, "build.log")) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if "perfbench/target/scala-2.13/classes" in l and ".jar" in l]
    if p.returncode != 0 or not cps:
        fail(f"sbt build failed (see {BUILD}/build.log)", 1)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    return cps[-1].strip()


# ------------------------------------------------------------------ inputs

def make_inputs(workload, seed, seconds, trace, cores, work):
    inp = {"workload": workload, "sf": SF, "cores": cores, "trace": bool(trace)}
    if workload != "wire_traffic":
        w = WORKLOADS[workload]
        inp.update(queries=w["queries"], warm_passes=WARM_PASSES,
                   timed_passes=max(1, math.ceil(seconds / w["pass_est_s"])))
        return inp, {}
    import duckdb
    con = duckdb.connect()
    qids = [r[0] for r in con.execute(
        f"SELECT vec_id FROM '{SF}/embeddings.parquet' ORDER BY vec_id").fetchall()]
    keys = [r[0] for r in con.execute(
        f"SELECT o_orderkey FROM '{SF}/orders.parquet' ORDER BY o_orderkey").fetchall()]
    vocab = [r[0] for r in con.execute(
        f"SELECT DISTINCT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t "
        f"FROM '{SF}/documents.parquet' ORDER BY t").fetchall() if r[0]]
    conns = cores
    serving = benchlib.gen_serving(seed, qids, vocab, keys, conns, rounds=64)
    ingest = max(1, math.ceil((1 - SERVE_SHARE) * seconds / INGEST_ROUND_EST_S))
    csvs, totals = [], {}
    for i in range(ingest):
        data, tot = benchlib.gen_lineitem_csv(seed, i, CSV_ROWS)
        path = os.path.join(work, f"ingest_{i}.csv")
        with open(path, "wb") as fh:
            fh.write(data)
        csvs.append(path)
        totals[path] = tot
    # a fixed number of whole rounds, sized from --seconds; a traced run
    # serves enough rounds for a median per call kind
    serve = max(1, math.ceil(SERVE_SHARE * seconds / SERVE_ROUND_EST_S))
    if trace:
        serve = max(serve, math.ceil((2 * benchlib.MIN_BEYOND + 1) / conns))
    inp.update(serving=serving, csvs=csvs, warm_lines=4000, serve_rounds=serve,
               ingest_rounds=ingest)
    return inp, totals


# ------------------------------------------------------------------ checks

def duck():
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(BUILD, 'duckdb_tmp')}'")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def check_mix(res, work):
    """The last pass's outputs against DuckDB's answers to the engine's
    published oracle SQL; one failure per query that differs."""
    import pandas as pd
    with open(os.path.join(work, "oracles.json")) as fh:
        oracles = json.load(fh)
    con = duck()
    bad = []
    for q in res["queries"]:
        if q not in oracles:
            bad.append(f"{q}: no oracle")
            continue
        try:
            got = pd.read_parquet(os.path.join(work, "out", q))
            diff = benchlib.compare_frames(got, con.execute(oracles[q]).fetchdf())
        except Exception as e:
            diff = f"{type(e).__name__}: {e}"
        if diff:
            bad.append(f"{q}: {diff}")
    return bad


BM25_CTES = """dl AS (SELECT doc_id, len(tok) AS dl FROM bench_docs),
    stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf
           FROM (SELECT doc_id, unnest(tok) AS token FROM bench_docs)
           WHERE token IN ({terms}) GROUP BY 1, 2),
    df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
    bm AS (SELECT doc_id,
                  round(SUM(ln((n - df + 0.5) / (df + 0.5) + 1)
                    * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS bm25
           FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
           GROUP BY doc_id)"""


def serving_oracle(con, res, calls):
    """DuckDB answers for every distinct serving call: the IVF-PQ
    restatement once for all sampled qids, then per call ANN top-10,
    BM25 top-20, RRF of the two arms, or the point row."""
    o = res["oracle"]
    qids = sorted({int(c["args"][0]) for c in calls if c["kind"] in ("ann", "hybrid")})
    keys = sorted({int(c["args"][0]) for c in calls if c["kind"] == "point"})
    # a literal qid list: DuckDB filters on it early, where a subquery would not
    ctes = o["ivfpq_ctes"].replace("__QIDS__", ", ".join(str(q) for q in qids))
    con.execute(f"CREATE TEMP TABLE bench_exact AS WITH {ctes} SELECT qid, nid, sim FROM exact")
    # the engine's tokenisation, as its oracles write it, once per run
    con.execute(f"CREATE TEMP TABLE bench_docs AS SELECT doc_id, {o['tokens']} AS tok FROM documents")
    points = {}
    for row in con.execute(
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate FROM orders "
            "WHERE o_orderkey IN (SELECT unnest(?::BIGINT[]))", [keys]).fetchall():
        points[row[0]] = [row]
    answers = {}

    def bm(terms):
        return BM25_CTES.format(terms=", ".join(f"'{t}'" for t in terms.split()))

    for c in calls:
        key = (c["kind"],) + tuple(c["args"])
        if key in answers:
            continue
        k, a = c["kind"], c["args"]
        if k == "ann":
            sql = (f"SELECT qid, nid, sim FROM (SELECT qid, nid, sim, ROW_NUMBER() OVER "
                   f"(ORDER BY sim DESC, nid) AS rn FROM bench_exact WHERE qid = {int(a[0])}) "
                   f"WHERE rn <= 10 ORDER BY rn")
        elif k == "bm25":
            sql = f"WITH {bm(a[0])} SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT 20"
        elif k == "hybrid":
            sql = f"""WITH vec AS (
                  SELECT nid AS doc_id, ROW_NUMBER() OVER (ORDER BY sim DESC, nid) AS rv
                  FROM (SELECT nid, sim FROM bench_exact WHERE qid = {int(a[0])}
                        ORDER BY sim DESC, nid LIMIT 20)),
                {bm(a[1])},
                lex AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rl
                        FROM (SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT 20))
                SELECT doc_id, rrf FROM (
                  SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
                         round(COALESCE(CAST(1 AS DOUBLE) / (60 + lex.rl), 0)
                             + COALESCE(CAST(1 AS DOUBLE) / (60 + vec.rv), 0), 6) AS rrf
                  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
                ORDER BY rrf DESC, doc_id LIMIT 10"""
        else:
            answers[key] = (["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                             "o_orderdate"], points.get(int(a[0]), []))
            continue
        cur = con.execute(sql)
        answers[key] = ([d[0] for d in cur.description], cur.fetchall())
    return answers


def check_wire(res, totals):
    bad = []
    calls = res["calls"]
    con = duck()
    answers = serving_oracle(con, res, [c for c in calls if not c.get("error")])
    for c in calls:
        if c.get("error"):
            bad.append(f"{c['kind']} {c['args']}: {c['error']}")
            continue
        cols, rows = answers[(c["kind"],) + tuple(c["args"])]
        diff = benchlib.compare_text_rows(c["cols"], c["rows"], cols, rows)
        if diff:
            bad.append(f"{c['kind']} {c['args']}: {diff}")
    for cp in res["copies"]:
        tot = totals[cp["csv"]]
        diff = benchlib.agg_matches(cp["agg"]["cols"], cp["agg"]["row"], tot)
        if diff:
            bad.append(f"copy in round {cp['round']}: {diff}")
        with open(cp["out_path"], "rb") as fh:
            if benchlib.lines_hash(fh.read()) != tot["hash"]:
                bad.append(f"copy out round {cp['round']}: sorted-line hash differs")
        diff = benchlib.agg_matches(cp["file_agg"]["cols"], cp["file_agg"]["row"], tot)
        if diff:
            bad.append(f"copy file round {cp['round']}: {diff}")
    return bad


# ----------------------------------------------------------------- metrics

def counts(per_pass, ops_total_counts, n_ops):
    """The end-to-end metrics: Spark work per pass and per operation, as
    the benchmark's listener counts it. Host load cannot move these."""
    med = benchlib.median
    return {
        "jobs_per_pass": med([p["jobs"] for p in per_pass]),
        "tasks_per_pass": med([p["tasks"] for p in per_pass]),
        "shuffle_mb_per_pass": med([p["shuffle_bytes"] for p in per_pass]) / 1e6,
        "jobs_per_op": ops_total_counts["jobs"] / n_ops,
        "tasks_per_op": ops_total_counts["tasks"] / n_ops,
    }


def host_layers(res):
    timed = res["host"]["timed_s"]
    return {"jvm.jit_ms": res["host"]["jit_ms"] / timed, "jvm.gc_ms": res["host"]["gc_ms"] / timed,
            "host.steal_frac": res["host"]["steal_frac"],
            "mem.retained_heap_mb": res["retained_heap_mb"]}


def mix_metrics(res, setup_s, trace):
    passes = res["passes"]
    med = benchlib.median
    n_ops = sum(len(p["query_ms"]) for p in passes)
    total = {k: sum(p[k] for p in passes) for k in ("jobs", "tasks")}
    e2e = dict(setup_s=setup_s, **counts(passes, total, n_ops))
    times = {
        "time.pass_s": med([p["wall_s"] for p in passes]),
        "time.pass_cpu_s": med([p["cpu_s"] for p in passes]),
        "time.op_ms": sum(sum(p["query_ms"]) for p in passes) / n_ops,
        "time.ops_per_s": n_ops / sum(p["wall_s"] for p in passes),
    }
    if not trace:
        return e2e, times
    tr = res["traced"]
    layer = {k: 0.0 for k in PER_LAYER}
    for k in tr[0]:
        if k in layer:
            layer[k] = med([t[k] for t in tr])
    busy = [t["exec.task_run_ms"] / (t["exec.ms"] * res["cores"]) for t in tr if t["exec.ms"]]
    layer["exec.core_busy_frac"] = med(busy) if busy else 0.0
    layer["trace.overhead_frac"] = med([t["pass_s"] for t in tr]) / times["time.pass_s"] - 1
    layer.update(times)
    layer.update(host_layers(res))
    return e2e, layer


def wire_metrics(res, setup_s, trace):
    calls, copies = res["calls"], res["copies"]
    med = benchlib.median
    e2e = dict(setup_s=setup_s, **counts(copies, res["serve_counts"], len(calls)))
    mb = 1e6
    times = {
        "time.pass_s": med([cp["round_s"] for cp in copies]),
        "time.pass_cpu_s": med([cp["round_cpu_s"] for cp in copies]),
        "time.op_ms": sum(c["ms"] for c in calls) / len(calls),
        "time.ops_per_s": len(calls) / res["serve_wall_s"],
        "copy.in_mb_s": med([cp["in_bytes"] / cp["in_s"] / mb for cp in copies]),
        "copy.out_mb_s": med([cp["out_bytes"] / cp["out_s"] / mb for cp in copies]),
        "copy.file_mb_s": med([cp["in_bytes"] / cp["file_s"] / mb for cp in copies]),
    }
    if not trace:
        return e2e, times
    layer = {k: 0.0 for k in PER_LAYER}
    layer.update({k: v for k, v in res["layers"].items() if k in layer})
    by = {}
    for c in calls:
        by.setdefault(c["kind"], []).append(c["ms"])
    for k in ("ann", "bm25", "hybrid", "point"):
        layer[f"serve.{k}_p50_ms"] = benchlib.percentile(by.get(k, []), 0.5)
    layer["wire.bytes_out_per_call"] = sum(c["bytes"] for c in calls) / len(calls)
    layer["copy.transfer_ms"] = med([cp["sent_ms"] for cp in copies])
    layer["layout.files_per_copy"] = med([cp["files"] for cp in copies])
    layer["layout.stored_bytes_per_input_byte"] = med(
        [cp["stored_bytes"] / cp["in_bytes"] for cp in copies])
    layer.update(times)
    layer.update(host_layers(res))
    return e2e, layer


# --------------------------------------------------------------------- run

def java_cmd(cp, work, inputs_path):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.sql.session.timeZone=UTC"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graft.perfbench.Harness", inputs_path, work]


def run_once(workload, seed, seconds, trace):
    """One run; returns (result line dict, detail dict)."""
    cores = len(os.sched_getaffinity(0))
    cp = build()
    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    inp, totals = make_inputs(workload, seed, seconds, trace, cores, work)
    inputs_path = os.path.join(work, "inputs.json")
    with open(inputs_path, "w") as fh:
        json.dump(inp, fh)
    launch = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(java_cmd(cp, work, inputs_path), stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness did not finish in {JVM_LIMIT_S} s", 1)
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        fail(f"harness exited with {rc} (see {work}/jvm.log)", 1)
    with open(os.path.join(work, "result.json")) as fh:
        res = json.load(fh)
    # keep each run's raw record beside the others for later comparison
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    shutil.copy(os.path.join(work, "result.json"),
                os.path.join(BUILD, "results", f"{workload}-seed{seed}-trace{trace}.json"))
    res["cores"] = cores
    setup_s = res["first_timed_ms"] / 1000 - launch
    t_check = time.time()
    if workload == "wire_traffic":
        bad = check_wire(res, totals)
        e2e, layer = wire_metrics(res, setup_s, trace)
    else:
        bad = check_mix(res, work)
        e2e, layer = mix_metrics(res, setup_s, trace)
    log(f"jvm {t_check - launch:.1f} s, checks {time.time() - t_check:.1f} s")
    for b in bad:
        log("mismatch:", b)
    errors = res["errors"]
    for e in errors:
        log("error:", e)
    metrics = layer if trace else e2e
    units = PER_LAYER if trace else END_TO_END
    missing = [k for k, v in metrics.items() if v is None]
    if missing:
        fail(f"too few samples for {missing}", 1)
    line = {"correct": not bad and not errors, "attempted": res["attempted"],
            "failed": len(bad) + len(errors),
            "metrics": {k: {"value": round(float(v), 6), "unit": units[k]} for k, v in metrics.items()}}
    detail = {"workload": workload, "seed": seed, "host": res["host"],
              "setup_s": setup_s, "e2e": e2e, "layer": layer}
    log("detail:", json.dumps(detail))
    return line, detail


def steadiness(workloads, runs, seconds):
    """Repeat each workload with seeds 1..runs and print every end-to-end
    metric's median and quartile spread beside its bound, and the same
    for the run's time figures (which carry no bound)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    for w in workloads:
        vals, fails = {}, []
        for seed in range(1, runs + 1):
            line, detail = run_once(w, seed, seconds, 0)
            fails.append((line["failed"], line["attempted"]))
            row = {k: m["value"] for k, m in line["metrics"].items()}
            row.update(detail["layer"])
            for k, v in row.items():
                vals.setdefault(k, []).append(v)
            print(f"{w} seed={seed} " + " ".join(f"{k}={v:.4g}" for k, v in row.items())
                  + f" steal={detail['host']['steal_frac']:.3f} load={detail['host']['loadavg1']:.2f}"
                  f" failed={line['failed']}/{line['attempted']}", flush=True)
        for k, v in vals.items():
            s = benchlib.spread(v)
            b = bounds.get(k)
            flag = "" if b is None else "ok" if k == "setup_s" or s < b / 3 else "WIDE"
            print(f"{w} {k:24s} median={benchlib.median(v):.4g} spread={s:.4f}"
                  + ("" if b is None else f" bound={b} third={b / 3:.4f} {flag}"), flush=True)
        print(f"{w} failed share: {sorted({f / a for f, a in fails})}", flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steadiness", type=int, metavar="RUNS", default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        fail("run from the repository root: no engine sources under src/main/scala/graft")
    if not os.path.isdir(SF):
        fail(f"no sf0.1 tables under {SF}")
    if a.steadiness:
        steadiness(a.workload or sorted(WORKLOADS), a.steadiness, a.seconds)
        return
    if not a.workload or len(a.workload) != 1:
        fail("give exactly one --workload")
    line, _ = run_once(a.workload[0], a.seed, a.seconds, a.trace)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
