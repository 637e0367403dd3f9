#!/usr/bin/env python3
"""Cold-and-warm benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the harness
(perfbench/build.sh), makes the workload's inputs from the seed, runs one
fresh JVM with one Spark session over them (a cold pass, then warm passes
for --seconds), checks every output, and prints one JSON line: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
See perfbench/README.md for the workloads, the metrics and the checks.
"""
import argparse
import hashlib
import json
import os
import pickle
import re
import shutil
import statistics
import subprocess
import sys
import time
import zlib
from pathlib import Path

import duckdb

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import gen_gkg  # noqa: E402
import gen_tables  # noqa: E402

BUILD = Path(".bench_build").resolve()

# Fixed query lists, in execution order (see README.md for why each).
WORKLOADS = {
    "queries": ["q01_share_of_voice", "q09_join_star", "q57_etl_report",
                "q23_quality_score", "q17_neardup_minhash"],
    "gdelt_etl": None,
}
# passes after the cold one: (settling, measured). The measured count is
# fixed so that every run's median covers the same JIT maturity; it is
# chosen to take longer than BENCHMARK.json's run_seconds on 4 cores
PASSES = {"queries": (4, 6), "gdelt_etl": (1, 1)}
GKG_ROWS = 5000
# the out-of-window export that the pipeline fails on: fixed, not seeded
GKG_BAD_SEED, GKG_BAD_ROWS, GKG_BAD_OUTSIDE = 20240304, 500, 0.2
JVM_TIMEOUT_S = 150
ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]

sys.path.insert(0, str(Path("tools").resolve()))


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def jvm(run_dir, **kw):
    """Launches the harness; returns its result.json."""
    out = run_dir / "out"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    jars = os.path.join((BUILD / "jars").read_text().strip(), "*")
    env = dict(os.environ, GRAFT_ARTIFACT_ROOT=str(run_dir / "artifacts"))
    args = [f"{k}={v}" for k, v in dict(out=out, **kw).items()]
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", *ADD_OPENS,
           "-cp", f"{BUILD}/harness:{BUILD}/program:{jars}", "perfbench.Harness"]
    with open(run_dir / "jvm.log", "w") as log:
        spawn_ms = int(time.time() * 1000)
        p = subprocess.run(cmd + args + [f"spawn_ms={spawn_ms}"], cwd=run_dir,
                           env=env, stdout=log, stderr=log, timeout=JVM_TIMEOUT_S)
    res_file = out / "result.json"
    if p.returncode != 0 or not res_file.exists():
        tail = (run_dir / "jvm.log").read_text().splitlines()[-25:]
        fail(f"harness exited {p.returncode}:\n" + "\n".join(tail))
    return json.loads(res_file.read_text())


def file_id(path):
    return hashlib.sha256(Path(path).read_bytes()).hexdigest()


def expected_rows(con, sql, key_parts, volatile):
    """The oracle's rows, cached on the SQL and the input files' contents.
    SQL that reads this run's own artifact root is never cached."""
    key = hashlib.sha256("\n".join([sql, *key_parts]).encode()).hexdigest()
    path = BUILD / "oracle_cache" / f"{key}.pkl"
    if not volatile and path.exists():
        return pickle.loads(path.read_bytes())
    cur = con.execute(sql)
    val = ([d[0] for d in cur.description], cur.fetchall())
    if not volatile:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_bytes(pickle.dumps(val))
    return val


def check_queries(run_dir, data, res):
    """Each query's cold and first-warm rows against its DuckDB oracle, by
    the oracle gate's comparison rule (tools/driver_sim.py `compare`)."""
    from driver_sim import TABLES, compare
    out = run_dir / "out"
    oracle = json.loads((out / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{run_dir / 'tmp'}'")
    ids = []
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        ids.append(file_id(f"{data}/{t}.parquet"))
    errors = []
    for name in res["ops"]:
        if name not in oracle:
            errors.append(f"{name}: no oracle")
            continue
        sql = oracle[name]
        want_cols, want = expected_rows(con, sql, ids, res["artifact_root"] in sql)
        for label in ("cold", "warm"):
            got = con.execute(f"SELECT * FROM '{out}/results/{label}/{name}/*.parquet'")
            err = compare(name, got.fetchall(), want, [d[0] for d in got.description], want_cols)
            if err:
                errors.append(f"{label} {name}: {err}")
    return errors


REPORT_SECTIONS = {
    "summary_report.md": ["# ANALYTICAL SUMMARY", "## Share of voice by week",
                          "## Model", "## Entity sentiment", "## Top Google sources",
                          "## Top OpenAI sources", "## QA invariants"],
    "network_report.md": ["# NETWORK ANALYSIS", "## Top Google sources",
                          "## Top OpenAI sources", "## Top Google partners",
                          "## Top OpenAI partners"],
    "theme_report.md": ["# THEME ANALYSIS", "## Top Google themes",
                        "## Top OpenAI themes", "## Most positive theme coefficients",
                        "## Most negative theme coefficients"],
    "entity_sentiment_report.md": ["# ENTITY SENTIMENT",
                                   "## Average tone by company and week"],
}


def png_decodes(path):
    """Walks the chunks (CRCs checked), inflates IDAT and checks that it
    holds exactly the scanlines IHDR announces."""
    b = path.read_bytes()
    if b[:8] != b"\x89PNG\r\n\x1a\n":
        return False
    pos, idat, hdr = 8, b"", None
    while pos + 12 <= len(b):
        n = int.from_bytes(b[pos:pos + 4], "big")
        typ, data = b[pos + 4:pos + 8], b[pos + 8:pos + 8 + n]
        if zlib.crc32(typ + data) != int.from_bytes(b[pos + 8 + n:pos + 12 + n], "big"):
            return False
        if typ == b"IHDR":
            hdr = (int.from_bytes(data[0:4], "big"), int.from_bytes(data[4:8], "big"),
                   data[8], {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[data[9]])
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + n
    if hdr is None or hdr[0] == 0 or hdr[1] == 0:
        return False
    w, h, depth, channels = hdr
    try:
        return len(zlib.decompress(idat)) == h * (1 + (w * channels * depth + 7) // 8)
    except zlib.error:
        return False


def check_gdelt(run_dir, expect):
    """The pipeline's outputs from the cold and the first warm run against
    the generator's tallies, and the reports' and graphs' structure."""
    errors = []
    con = duckdb.connect()
    for label in ("cold", "warm"):
        d = run_dir / "out" / "results" / label / "gdelt_pipeline"
        core = f"'{d}/gdelt_core.parquet/*.parquet'"
        n_core = con.execute(f"SELECT count(*) FROM {core}").fetchone()[0]
        n_feat = con.execute(
            f"SELECT count(*) FROM '{d}/gdelt_ml_features.parquet/*.parquet'").fetchone()[0]
        if n_core != expect["distinct_urls"]:
            errors.append(f"{label}: core rows {n_core} != distinct urls {expect['distinct_urls']}")
        if n_feat != n_core:
            errors.append(f"{label}: feature rows {n_feat} != core rows {n_core}")
        weeks = {r[0]: dict(zip(["total", "avg_tone", "avg_neg", "pct_google",
                                 "pct_openai", "pct_anthropic"], r[1:]))
                 for r in con.execute(
                     "SELECT label_week, count(*), avg(v2tone_1), avg(v2tone_3), "
                     "100 * avg(k_google), 100 * avg(k_openai), 100 * avg(k_anthropic) "
                     f"FROM {core} GROUP BY 1").fetchall()}
        if sorted(weeks) != sorted(expect["weeks"]):
            errors.append(f"{label}: weeks {sorted(weeks)} != {sorted(expect['weeks'])}")
        for week, want in expect["weeks"].items():
            for k, v in want.items():
                got = weeks.get(week, {}).get(k)
                if got is None or abs(got - v) > 1e-9 * max(1.0, abs(v)):
                    errors.append(f"{label}: {week} {k} {got} != {v}")
        for f, heads in REPORT_SECTIONS.items():
            p = d / f
            lines = set(p.read_text().splitlines()) if p.exists() else set()
            errors += [f"{label}: {f} lacks '{h}'" for h in heads if h not in lines]
        auc = re.search(r"Logistic Regression AUC: \*\*([0-9.]+)\*\*",
                        (d / "summary_report.md").read_text())
        if not auc or not 0.0 <= float(auc.group(1)) <= 1.0:
            errors.append(f"{label}: AUC not in [0, 1]")
        for png in ("graph_share_of_voice.png", "graph_feature_importance.png"):
            if not png_decodes(d / png):
                errors.append(f"{label}: {png} does not decode")
    return errors


def e2e_metrics(res):
    return {
        "setup_s": (res["setup_s"], "s"),
        "cold_cpu_s": (res["cold_cpu_s"], "s"),
        "warm_cpu_s": (statistics.median(sum(p) for p in res["warm_op_cpu_s"]), "s"),
        "disk_mb": (res["disk_mb"], "MB"),
    }


def wall_metrics(res):
    """Wall-clock times of the same passes. README.md says why they are not
    end-to-end metrics on a shared host."""
    warm = res["warm_op_s"]
    per_op = [statistics.median(p[i] for p in warm) for i in range(len(warm[0]))]
    return {
        "wall.cold_s": res["cold_s"],
        "wall.warm_s": statistics.median(sum(p) for p in warm),
        "wall.query_gmean_s": statistics.geometric_mean(per_op),
    }


def layer_metrics(res, expect):
    """Per-layer metrics of the traced run: warm-pass figures are means
    over the traced warm passes; jit, codegen and artifact builds are
    taken over the cold pass."""
    recs = res["records"]
    warm = [r for r in recs if r["pass"] != "cold"]
    cold = [r for r in recs if r["pass"] == "cold"]
    n_warm = len({r["pass"] for r in warm})
    m = {}

    def per_pass(key, rs=warm, n=n_warm):
        return sum(r["layers"].get(key, 0.0) for r in rs if r["layers"]) / n

    for k in ["catalyst.plans", "catalyst.analysis_s", "catalyst.optimizer_s",
              "catalyst.planning_s", "spark.idle_s", "spark.jobs", "spark.stages",
              "spark.tasks", "spark.job_busy_s", "spark.task_s", "spark.cpu_s",
              "spark.task_gc_s", "spark.input_mb", "spark.input_rows",
              "spark.shuffle_write_mb", "spark.shuffle_read_mb",
              "spark.shuffle_fetch_wait_s", "spark.spill_mb", "spark.result_mb",
              "spark.output_mb", "gdelt.etl_s", "gdelt.analysis_s", "gdelt.ml_s"]:
        m[k] = per_pass(k)
    counted = [r for r in warm if r["layers"]]
    wall = sum(r["wall_s"] for r in counted) / n_warm
    m["spark.core_util"] = m["spark.task_s"] / (wall * res["cores"])
    m["queries.build_s"] = sum(r["build_s"] for r in counted) / n_warm
    m["queries.action_s"] = sum(r["action_s"] for r in counted) / n_warm
    m["queries.executed"] = float(res["attempted"] - res["failed"])
    # an artifact build costs the cold call; the warm call only reads it
    warm_med = {}
    for r in counted:
        warm_med.setdefault(r["op"], []).append(r["wall_s"])
    m["artifacts.published"] = float(sum(r["artifacts_published"] for r in cold))
    m["artifacts.mb"] = sum(r["artifacts_bytes_added"] for r in cold) / 1048576.0
    m["artifacts.build_s"] = sum(
        r["wall_s"] - statistics.median(warm_med[r["op"]])
        for r in cold if r["artifacts_published"] and r["op"] in warm_med)
    m["artifacts.republished_warm"] = float(sum(r["artifacts_republished"] for r in warm))
    m.update(wall_metrics(res))
    jv = res["jvm"]
    m["jvm.jit_s"] = jv["cold_jit_s"]
    m["codegen.compiles"] = float(jv["cold_codegen_compiles"])
    m["codegen.compile_s"] = jv["cold_codegen_compile_s"]
    m["jvm.gc_s"] = jv["gc_s"]
    m["jvm.heap_peak_mb"] = jv["heap_peak_mb"]
    m["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    m["jvm.live_heap_mb"] = res["live_heap_mb"]
    m["gdelt.raw_rows"] = float(expect["rows"] if expect else 0)
    m["gdelt.core_rows"] = float(expect["distinct_urls"] if expect else 0)
    m["trace.overhead_s"] = (
        statistics.median(sum(p) for p in res["traced_warm_op_s"])
        - statistics.median(sum(p) for p in res["warm_op_s"]))
    units = {"s": "s", "mb": "MB", "rows": "rows", "util": "ratio"}
    return {k: (v, units.get(re.split(r"[._]", k)[-1], "count")) for k, v in m.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not Path("src/main/scala").is_dir():
        fail("run from the repository root: src/main/scala is missing")
    b = subprocess.run(["bash", "perfbench/build.sh", str(BUILD)],
                       stdout=sys.stderr, stderr=sys.stderr)
    if b.returncode != 0:
        fail("build failed")

    run_dir = BUILD / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    data = run_dir / "data"
    data.mkdir(parents=True)
    try:
        settle, passes = PASSES[a.workload]
        kw = dict(seconds=a.seconds, settle=settle, passes=passes, trace=a.trace)
        expect = None
        queries = WORKLOADS[a.workload]
        if queries is None:
            expect = gen_gkg.generate(data / "gkg.jsonl", a.seed, GKG_ROWS)
            gen_gkg.generate(data / "gkg_bad.jsonl", GKG_BAD_SEED, GKG_BAD_ROWS,
                             outside=GKG_BAD_OUTSIDE)
            kw.update(gkg=data / "gkg.jsonl", gkg_bad=data / "gkg_bad.jsonl")
        else:
            gen_tables.generate(data, a.seed)
            kw.update(data=data, queries=",".join(queries))

        res = jvm(run_dir, **kw)
        errors = list(res["errors"])
        if queries is None:
            errors += check_gdelt(run_dir, expect)
        else:
            errors += check_queries(run_dir, data, res)
        for e in errors:
            print(f"[perfbench] CHECK FAILED: {e}", file=sys.stderr)
        metrics = layer_metrics(res, expect) if a.trace else e2e_metrics(res)
        if a.trace:
            trace_dir = BUILD / "traces"
            trace_dir.mkdir(parents=True, exist_ok=True)
            (trace_dir / f"{a.workload}-{a.seed}.json").write_text(
                json.dumps({"workload": a.workload, "seed": a.seed,
                            "records": res["records"],
                            "totals": {k: v for k, (v, _) in metrics.items()}}))
        print(json.dumps({
            "correct": not errors,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
