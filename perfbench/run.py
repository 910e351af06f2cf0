#!/usr/bin/env python3
"""The retail warehouse benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the engine and the harness from the checkout (cached under
.bench_build/), generates the workload's inputs from the seed, runs the
harness JVM on a local[nproc] session, checks every output, and prints
one JSON line per metric followed by the result line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 the per-layer ones, from a run that also records spans. See
perfbench/README.md for the workloads and what each metric means.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

# Every run must end within this many seconds, build excluded.
RUN_LIMIT_S = 170

# Fixed workload shapes. The live rate is an open-loop schedule the seed
# commit sustains with no growing backlog on a 4-core host, about half the
# loader's backlog service rate there.
LIVE = dict(backlog_files=60, backlog_rows=1000, drains=3,
            files_per_s=4.0, live_rows=1750)
SUITE = dict(queries=["q33_basket_rules", "etl_entity_fuzzy_pairs",
                      "stream_cdc_apply", "llm_source_tarzst"],
             min_passes=2)
PANELS = ["category_by_occupation", "demographics", "monthly_growth",
          "quarterly_trend", "top_cities", "top_products"]

JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                              recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala; run from a checkout", 2)
    resources = sorted(f for f in glob.glob(
        os.path.join(ROOT, "src/main/resources/**"), recursive=True)
        if os.path.isfile(f))
    own = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return engine + resources + own + [os.path.join(HERE, "build.sbt"),
                           os.path.join(HERE, "project/build.properties")]


def spark_home():
    """The Spark installation whose bin/ on PATH holds spark-submit next to
    a jars/ directory (a pip-installed launcher has none)."""
    for bin_dir in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(bin_dir))
        if (os.path.exists(os.path.join(bin_dir, "spark-submit"))
                and glob.glob(os.path.join(home, "jars", "spark-core_*.jar"))):
            return home
    fail("set SPARK_HOME or put a Spark installation's bin/ on PATH")


def build():
    """Compile engine + harness with sbt (offline), once per source tree;
    returns the runtime classpath and the build's source digest."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "sbt", "classpath.txt")
    if (os.path.exists(cp_file) and os.path.exists(stamp)
            and open(stamp).read() == digest.hexdigest()):
        return open(cp_file).read(), digest.hexdigest()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SPARK_HOME", spark_home())
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "wb") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "writeClasspath"], cwd=HERE, env=env, stdout=out,
                            stderr=subprocess.STDOUT, timeout=840).returncode
    if rc != 0 or not os.path.exists(cp_file):
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        fail(f"build failed (sbt exit {rc})")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return open(cp_file).read(), digest.hexdigest()


def generate(workload, seed, seconds, work):
    """Write the workload's inputs; returns the harness arguments naming them."""
    if workload == "warehouse_live":
        masters, src = os.path.join(work, "masters"), os.path.join(work, "src")
        staging = os.path.join(work, "staging")
        backlog = LIVE["backlog_files"]
        live = int(round(LIVE["files_per_s"] * seconds))
        gen.write_masters(masters, seed)
        gen.write_tx_files(src, seed, backlog, LIVE["backlog_rows"])
        gen.write_tx_files(staging, seed, live, LIVE["live_rows"], first=backlog)
        return {"masters": masters, "src": src, "staging": staging,
                "backlog-files": backlog, "drains": LIVE["drains"], "rate": LIVE["files_per_s"],
                "first-day": gen.FIRST_DAY.isoformat(), "days": gen.N_DAYS,
                "latest-year": gen.LATEST_YEAR, "order-stride": gen.ORDER_STRIDE}
    tables = os.path.join(work, "tables")
    gen.write_tables(tables, seed)
    order = list(SUITE["queries"])
    random.Random(seed).shuffle(order)
    return {"tables": tables, "queries": ",".join(order),
            "min-passes": SUITE["min_passes"]}


def run_harness(classpath, workload, seconds, trace, work, extra, deadline):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed ParallelGC heap, so peak RSS does not follow heap-sizing choices
    cmd = ["java", *JDK_OPENS, "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-cp", classpath, "perfbench.Harness",
           "--workload", workload, "--work", work, "--seconds", str(seconds),
           "--trace", str(trace), "--cores", str(len(os.sched_getaffinity(0))),
           "--out", out]
    for k, v in extra.items():
        cmd += [f"--{k}", str(v)]
    log = os.path.join(work, "jvm.log")
    with open(log, "wb") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log, errors="replace").read()[-6000:])
        fail(f"harness failed ({rc})")
    with open(out) as f:
        return json.load(f)


# --- metrics ---------------------------------------------------------------

def oracle_diffs(work, names, deadline):
    """Compare the suite's outputs with their DuckDB oracles through the
    repository's correctness gate, tools/check.py; returns {query: reason}
    for each query it reports as failing, or for every query when the gate
    itself fails."""
    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "check.py"),
             os.path.join(work, "tables"), os.path.join(work, "out")],
            capture_output=True, text=True,
            timeout=max(1.0, deadline - time.monotonic()))
        lines, rc = proc.stdout.splitlines(), proc.returncode
        why = (proc.stderr.strip().splitlines() or [f"exit {rc}"])[-1]
    except subprocess.TimeoutExpired:
        lines, rc, why = [], "timeout", "tools/check.py timed out"
    diffs = {}
    for line in lines:
        if line.startswith("FAIL "):
            name, _, reason = line[len("FAIL "):].partition(": ")
            diffs[name] = reason
    if rc != 0 and not diffs:
        diffs = {n: why for n in names}
    return diffs


def evaluate(workload, res, work, deadline):
    """Operations attempted and failed, with failure reasons, and the raw
    samples every metric is computed from."""
    attempted, failed = res["attempted"], res["failed"]
    errors = list(res["errors"])
    s = {"setup": res["setup_s"]}
    if workload == "warehouse_live":
        sched = res["schedule"]
        visible = stats.visible_ms(
            len(sched["due_ms"]), res.get("file_batch", {}),
            {b["id"]: b["end_ms"] for b in sched["batches"]})
        missing = sum(v is None for v in visible)
        attempted += len(visible)
        failed += missing
        if missing:
            errors.append(f"{missing} files never became visible in the fact")
        first = sched["live_from"]
        s["visible"] = visible
        s["bulk"] = res["bulk_s"]
        s["latency"] = stats.freshness_s(sched["due_ms"][first:], visible[first:])
        s["query"] = [p["s"] for p in res["panels"]]
        growth = stats.backlog_growth(
            stats.backlog(sched["renamed_ms"][first:], visible[first:]),
            sched["due_ms"][first], sched["due_ms"][-1])
        limit = stats.growth_limit(len(sched["due_ms"]) - first)
        s["growth"] = growth
        attempted += 1
        if growth > limit:
            failed += 1
            errors.append(f"backlog grew by {growth:.1f} files over the live "
                          f"schedule (limit {limit:.1f})")
    else:
        # a closed loop: each query is due when issued, so its latency is
        # its lap
        s["bulk"] = res["passes_s"]
        s["query"] = s["latency"] = [lap["s"] for lap in res["laps"]]
        with open(os.path.join(work, "out", "oracle_sql.json")) as f:
            names = sorted(json.load(f))
        diffs = oracle_diffs(work, names, deadline)
        attempted += len(names)
        failed += sum(n in diffs for n in names)
        errors += [f"{n} differs from its DuckDB oracle: {diffs[n]}"
                   for n in names if n in diffs]
    return attempted, failed, errors, s


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def end_to_end(s, res):
    return {"setup_s": stats.median(s["setup"]),
            "peak_rss_mb": res["peak_rss_mb"],
            "bulk_s": stats.median(s["bulk"]),
            "latency_s": mean(s["latency"]),
            "query_s": mean(s["query"])}


def issue_metrics(workload, s, res, attempted, failed):
    """The workload's own view, as (name, value or None, unit, samples);
    a percentile with too few samples beyond it reads None."""
    rows = [("setup_s", stats.median(s["setup"]), "s", len(s["setup"])),
            ("peak_rss_mb", res["peak_rss_mb"], "MB", 1),
            ("error_rate", failed / attempted if attempted else 0.0, "ratio",
             attempted)]
    if workload == "warehouse_live":
        drain = stats.median(s["bulk"]) or float("nan")
        rows.append(("ingest_rows_per_s", res["backlog_rows"] / drain, "rows/s",
                     len(s["bulk"])))
        for p in (50, 90):
            rows.append((f"freshness_p{p}_s", stats.percentile(s["latency"], p),
                         "s", len(s["latency"])))
        rows.append(("backlog_growth_files", s["growth"], "files",
                     len(s["latency"])))
        for p in (50, 90):
            rows.append((f"panel_p{p}_s", stats.percentile(s["query"], p), "s",
                         len(s["query"])))
    else:
        rows.append(("suite_pass_s", stats.median(s["bulk"]), "s", len(s["bulk"])))
        rows.append(("query_p50_s", stats.percentile(s["query"], 50), "s",
                     len(s["query"])))
    return rows


def per_layer(workload, res, s, names):
    """Every per-layer metric; a layer the workload does not run reads 0."""
    L = dict(res["layers"])
    if workload == "warehouse_live":
        sched = res["schedule"]
        batches, runs, first = sched["batches"], sched["runs"], sched["live_from"]
        L["gen.lag_max_s"] = max(
            (r - d for r, d in zip(sched["renamed_ms"], sched["due_ms"])),
            default=0.0) / 1000.0
        L["streaming.backlog_max_files"] = max(
            (lv for _, lv in stats.backlog(sched["renamed_ms"][first:],
                                           s["visible"][first:])), default=0)
        L["streaming.runs"] = len(runs)
        L["streaming.batches"] = len(batches)
        L["streaming.rows_per_batch"] = mean([b["rows"] for b in batches])
        firsts, rest, starts = [], [], []
        for i, run in enumerate(runs):
            bs = [b for b in batches if b["run"] == i]
            if bs:
                firsts.append(bs[0]["durations"].get("triggerExecution", 0))
                rest += [b["durations"].get("triggerExecution", 0) for b in bs[1:]]
                starts.append(bs[0]["start_ms"] - run["start_ms"])
        L["streaming.first_batch_ms"] = stats.median(firsts)
        L["streaming.batch_p50_ms"] = stats.median(rest)
        L["streaming.start_ms"] = stats.median(starts)
        for key, name in (("latestOffset", "latest_offset_ms"),
                          ("getBatch", "get_batch_ms"),
                          ("queryPlanning", "query_planning_ms"),
                          ("addBatch", "add_batch_ms"),
                          ("walCommit", "wal_commit_ms"),
                          ("commitOffsets", "commit_offsets_ms")):
            L[f"streaming.{name}"] = stats.median(
                [b["durations"].get(key, 0) for b in batches])
        L["dashboard.fact_read_s"] = stats.median(res["fact_read_s"])
        for p in PANELS:
            mine = [x for x in res["panels"] if x["panel"] == p]
            L[f"dashboard.{p}.plan_s"] = stats.median([x["plan_s"] for x in mine])
            L[f"dashboard.{p}.exec_s"] = stats.median([x["exec_s"] for x in mine])
        L["etl.dims_s"] = stats.median(res["setup_s"])
    else:
        L["tables.preload_s"] = stats.median(res["setup_s"])
        L["suite.gc_s"] = stats.median(res["gc_s"])
        L["suite.spill_mb"] = stats.median(res["spill_mb"])
        for q in SUITE["queries"]:
            mine = [x for x in res["laps"] if x["query"] == q]
            for part in ("build_s", "plan_s", "exec_s"):
                L[f"{q}.{part}"] = stats.median([x[part] for x in mine])
    return {n: float(L.get(n, 0.0)) for n in names}


def layer_self_times(work):
    path = os.path.join(work, "spans.jsonl")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    by_name = stats.self_times(spans)
    layers = {}
    for name, secs in by_name.items():
        layer = name.split(".")[0]
        layers[layer] = layers.get(layer, 0.0) + secs
    return {"spans": len(spans), "self_s_by_layer": layers,
            "self_s_by_span": by_name}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["warehouse_live", "operator_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath, digest = build()
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        extra = generate(a.workload, a.seed, a.seconds, work)
        res = run_harness(classpath, a.workload, a.seconds, a.trace, work, extra,
                          deadline)
        attempted, failed, errors, s = evaluate(a.workload, res, work, deadline)
        e2e = end_to_end(s, res)
        report = [{"workload": a.workload, "metric": n, "value": v, "unit": u,
                   "n": k} for n, v, u, k in
                  issue_metrics(a.workload, s, res, attempted, failed)]
        # the untraced result the tracing overhead is taken against: same
        # workload, seed and build
        last = os.path.join(BUILD, "last", f"{a.workload}-{a.seed}-{digest}.json")
        if a.trace:
            metrics = per_layer(a.workload, res, s,
                                [m["name"] for m in spec["per_layer"]])
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            report.append({"workload": a.workload, "trace": layer_self_times(work)})
            if os.path.exists(last):
                with open(last) as f:
                    untraced = json.load(f)
                report.append({"workload": a.workload, "tracing_overhead": {
                    k: e2e[k] - untraced[k] for k in e2e if k in untraced}})
            report.append({"workload": a.workload, "traced_end_to_end": e2e})
        else:
            metrics = e2e
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            os.makedirs(os.path.dirname(last), exist_ok=True)
            with open(last, "w") as f:
                json.dump(e2e, f)
        for e in errors:
            print(f"perfbench: {e}", file=sys.stderr)
        for line in report:
            print(json.dumps(line))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": v, "unit": units[n]}
                        for n, v in metrics.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
