#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cp_interactive --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the harness (sbt, offline)
with the repository's sources; later runs reuse the build while the sources
are unchanged. Each run generates its inputs from the seed, runs the JVM
harness (set-up, then a closed loop for --seconds), checks every result
digest against DuckDB after the timed window, and prints detail lines then,
last, {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. See README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

BUILD_DIR = os.path.join(HERE, "target", "harness")
SF = 0.1                     # the CP events series
PIPE_SF = 0.01               # pipeline_batch tables
COLD_ROWS = 100000           # rows per cp_cold csv
COLD_CELLS = 100000          # grid cells of the cp_cold query
COLD_SLOTS = 3               # distinct csvs (the deck) the cp_cold loop cycles through
SPAN_TOL_NS = 2_000_000     # allowed |span self-time sum - request wall|
ORACLE_WORKERS = 2           # DuckDB queries checked at a time
RUN_LIMIT_S = 170            # the whole run, build excluded
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

WORKLOADS = ["cp_interactive", "cp_cold", "pipeline_batch"]
E2E = {"setup_s": "s", "latency_p50_s": "s", "latency_p90_s": "s",
       "requests_per_s": "1/s", "peak_rss_mb": "MB"}
LAYERS = {
    "parser.parse_ms": "ms", "engine.bind_ms": "ms", "engine.index_ms": "ms",
    "engine.index_hit_ratio": "ratio", "engine.grid_ms": "ms", "engine.topk_ms": "ms",
    "engine.execute_ms": "ms", "engine.multiseries_ms": "ms", "engine.grid_cells": "count",
    "engine.cells_per_result": "ratio", "sources.ingest_ms": "ms", "sources.input_bytes": "bytes",
    "spark.planning_ms": "ms", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.stage_busy_ms": "ms",
    "spark.driver_gap_ms": "ms", "spark.driver_gap_share": "ratio",
    "spark.executor_cpu_ms": "ms", "spark.core_utilization": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.failed_tasks": "count", "jvm.gc_ms": "ms",
    "queries.relational_ms": "ms", "queries.llm_ms": "ms", "queries.timeseries_ms": "ms",
    "queries.cold_first_ms": "ms", "trace.overhead_ms": "ms", "trace.unattributed_share": "ratio",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _read(path):
    with open(path) as f:
        return f.read()


def _sources():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        files += sorted(f for f in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                        if os.path.isfile(f))
    return files


def build():
    """Compile the harness with the repository's main sources (once per
    source state); returns (classpath, catalog)."""
    h = hashlib.sha1()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    cat_file = os.path.join(BUILD_DIR, "catalog.json")
    if os.path.exists(stamp_file) and _read(stamp_file) == stamp:
        return _read(cp_file), json.loads(_read(cat_file))
    log("building the harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
                       text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("harness build failed")
    classpath = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    subprocess.run(["java", *JVM_OPENS, "-XX:-UsePerfData", "-cp", classpath,
                    "perfbench.Harness", "--catalog", cat_file], check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=120)
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath, json.loads(_read(cat_file))


# ----------------------------------------------------------------- inputs

def make_inputs(workload, seed, work, catalog):
    """Generate the run's inputs; returns (deck, warm-up, data dir, heap MB).
    Deck entries carry the generator's parameters for the oracle."""
    data = os.path.join(work, "data")
    if workload == "cp_interactive":
        values = gen.write_tables(seed, SF, data, events_only=True)
        return gen.cp_interactive_deck(seed, values), gen.warmup_deck(seed, values), data, 3072
    if workload == "cp_cold":
        os.makedirs(data, exist_ok=True)
        deck = []
        for slot in range(COLD_SLOTS):
            csv = os.path.join(data, f"emg_{slot}.csv")
            emg1 = gen.emg_csv(seed, slot, COLD_ROWS, csv)
            deck.append(dict(gen.cold_query(seed, slot, emg1, COLD_ROWS, COLD_CELLS), csv=csv))
        # one full-size request warms the path (class loading, codegen, JIT)
        # before timing
        csv = os.path.join(data, "emg_warmup.csv")
        emg1 = gen.emg_csv(seed, 99, COLD_ROWS, csv)
        warm = [dict(gen.cold_query(seed, 99, emg1, COLD_ROWS, COLD_CELLS), csv=csv)]
        return deck, warm, data, 3072
    gen.write_tables(seed, PIPE_SF, data)
    costs = gen.load_costs(os.path.join(HERE, "query_costs.json"))
    names = gen.pipeline_draw(seed, {n: v["module"] for n, v in catalog.items()}, costs)
    return [{"kind": "pipe", "name": n} for n in names], [], data, 4096


def run_harness(classpath, plan, heap_mb, timeout):
    """Run the JVM harness on `plan` (written into its work_dir); returns
    the parsed result. Raises SystemExit with the log tail on failure."""
    work = plan["work_dir"]
    plan_file, result_file = os.path.join(work, "plan.json"), os.path.join(work, "result.json")
    with open(plan_file, "w") as f:
        json.dump(plan, f)
    # a fixed heap and young generation: the heap's resident high-water mark
    # then follows the live data, not G1's adaptive sizing of the moment
    cmd = ["java", *JVM_OPENS, f"-Xms{heap_mb}m", f"-Xmx{heap_mb}m", f"-Xmn{heap_mb // 4}m",
           "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
           "perfbench.Harness", plan_file, result_file]
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        p = subprocess.Popen(cmd, cwd=work, stdout=jlog, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=timeout)
        finally:  # timeout, SIGTERM or ^C: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0 or not os.path.exists(result_file):
        sys.stderr.write(_read(os.path.join(work, "jvm.log"))[-4000:])
        raise SystemExit(f"harness exited with {p.returncode}")
    return json.loads(_read(result_file))


# ----------------------------------------------------------------- oracle

def oracle_all(con, jobs):
    """Run {key: (sql, count_only)} on ORACLE_WORKERS duplicates of `con`;
    returns {key: (digest or count, error or None)}."""
    def one(item):
        key, (sql, count_only) = item
        cur = con.cursor()
        try:
            out = cur.execute(sql).fetchone()[0] if count_only else oracle.run(cur, sql)[0]
            return key, (out, None)
        except Exception as e:  # an oracle that cannot run verifies nothing
            return key, (None, f"oracle error: {e}")
        finally:
            cur.close()
    with ThreadPoolExecutor(ORACLE_WORKERS) as ex:
        return dict(ex.map(one, sorted(jobs.items())))


def check(workload, deck, result, data, work, cores, catalog):
    """Expected digests for the deck entries that ran; returns ({deck index:
    failure reason}, {deck index: digest}, {deck index: "tighten" | "relax"}
    for the single-series refined entries)."""
    used = sorted({r["deck"] for r in result["requests"] if r["ok"]})
    con = oracle.connect(cores, os.path.join(work, "duckdb_tmp"))
    jobs = {}
    if workload == "cp_interactive":
        ev = f"read_parquet('{data}/events.parquet')"
        con.execute(f"CREATE TABLE series AS SELECT row_number() OVER (ORDER BY event_id) AS t, "
                    f"value AS y FROM {ev}")
        con.execute(f"CREATE TABLE series_ms AS SELECT user_id % 4 AS sid, row_number() OVER "
                    f"(PARTITION BY user_id % 4 ORDER BY event_id) AS t, value AS y FROM {ev}")
        for d in used:
            multi = deck[d]["kind"] == "ms"
            jobs[d, "digest"] = (oracle.cp_sql(deck[d], "series_ms" if multi else "series",
                                               multi), False)
            if deck[d]["mode"] == "refined" and not multi:
                jobs[d, "m"] = (oracle.satisfied_sql(deck[d]), True)
    elif workload == "cp_cold":
        for d in used:
            con.execute(f"CREATE TABLE series_{d} AS SELECT row_number() OVER "
                        f"(ORDER BY \"timestamp\") AS t, CAST(emg1 AS DOUBLE) AS y FROM "
                        f"read_csv('{deck[d]['csv']}', skip=3, header=true)")
            jobs[d, "digest"] = (oracle.cp_sql(deck[d], f"series_{d}"), False)
            jobs[d, "m"] = (oracle.satisfied_sql(deck[d], f"series_{d}"), True)
    else:
        oracle.register_tables(con, data, TABLES)
        for d in used:
            sql = catalog[deck[d]["name"]]["oracle"]
            if sql:
                jobs[d, "digest"] = (sql, False)
    out = oracle_all(con, jobs)
    con.close()
    bad, expected, refine = {}, {}, {}
    for d in used:
        digest, err = out.get((d, "digest"), (None, "no oracle SQL"))
        expected[d] = digest
        if err or digest is None:
            bad[d] = err or "no oracle result"
        m, _ = out.get((d, "m"), (None, None))
        if m is not None:
            refine[d] = "tighten" if m >= deck[d]["k"] else "relax"
    return bad, expected, refine


# ---------------------------------------------------------------- metrics

def end_to_end(requests, deck_size, setup_s, peak_rss_kb):
    """End-to-end metrics over the untraced requests of the completed deck
    passes."""
    sample = metrics.whole_passes(requests, deck_size)
    ok = [r for r in sample if r["ok"]] or [r for r in requests if r["ok"]]
    walls = [r["wall_ms"] / 1e3 for r in ok]
    p90, q90 = metrics.tail(walls)
    span_s = (max(r["end_ms"] for r in sample) - min(r["start_ms"] for r in sample)) / 1e3
    return {"setup_s": setup_s,
            "latency_p50_s": metrics.median(walls),
            "latency_p90_s": p90,
            "requests_per_s": len(ok) / max(span_s, 1e-9),
            "peak_rss_mb": peak_rss_kb / 1024.0}, q90, len(ok)


def per_layer(result, ok, deck, catalog, cores):
    """Per-layer metrics of a traced run: span times from the `traced`
    requests, Spark-layer counters from the `plain` ones (listeners on, the
    real code path), request and engine walls from the `untraced` ones."""
    spans = metrics.by_request(result["spans"])
    layers = result["layers"]
    kind = lambda k: [r for r in ok if r["kind"] == k]
    base, plain, traced = kind("untraced"), kind("plain"), kind("traced")

    def span_ms(name):
        out = []
        for r in traced:
            d = [s["end_ns"] - s["start_ns"] for s in spans.get(r["i"], []) if s["name"] == name]
            if d:
                out.append(sum(d) / 1e6)
        return out

    def layer(r, k):
        return layers.get(str(r["i"]), {}).get(k, 0)

    def engine_ms(kinds):
        return [r["engine_ms"] for r in base
                if deck[r["deck"]]["kind"] in kinds and r["engine_ms"] is not None]

    hits = [r["index_hit"] for r in ok if r["index_hit"] is not None]
    cells = [r for r in traced if r["grid_cells"] is not None]
    busy = [layer(r, "busy_ms") for r in plain]
    by_module = {}
    for r in base:
        if deck[r["deck"]]["kind"] == "pipe":
            module = catalog[deck[r["deck"]]["name"]]["module"]
            by_module.setdefault(module, []).append(r["wall_ms"])
    planning = result["planning_ms"]
    pos = {r["i"]: j for j, r in enumerate(result["requests"])}
    run_ms = sum(layer(r, "run_ms") for r in plain)
    untraced_wall = {r["deck"]: r["wall_ms"] for r in base}
    return {
        "parser.parse_ms": metrics.median(span_ms("parser.parse")),
        "engine.bind_ms": metrics.median(span_ms("engine.bind")),
        "engine.index_ms": metrics.median(span_ms("engine.index")),
        "engine.index_hit_ratio": sum(hits) / len(hits) if hits else 0.0,
        "engine.grid_ms": metrics.median(span_ms("engine.grid")),
        "engine.topk_ms": metrics.median(span_ms("engine.topk")),
        "engine.execute_ms": metrics.median(engine_ms(("cp", "cold"))),
        "engine.multiseries_ms": metrics.median(engine_ms(("ms",))),
        "engine.grid_cells": metrics.mean([r["grid_cells"] for r in cells]),
        "engine.cells_per_result": metrics.mean([r["grid_cells"] / max(r["rows"], 1)
                                                 for r in cells]),
        "sources.ingest_ms": metrics.median(span_ms("sources.ingest")),
        "sources.input_bytes": metrics.mean([layer(r, "input") for r in plain]),
        "queries.relational_ms": metrics.median(by_module.get("relational", [])),
        "queries.llm_ms": metrics.median(by_module.get("llm", [])),
        "queries.timeseries_ms": metrics.median(by_module.get("timeseries", [])),
        "queries.cold_first_ms": sum(c["ms"] for c in result["cold_first"]),
        "spark.planning_ms": metrics.median([planning[pos[r["i"]]] for r in plain]),
        "spark.jobs": metrics.mean([layer(r, "jobs") for r in plain]),
        "spark.stages": metrics.mean([layer(r, "stages") for r in plain]),
        "spark.tasks": metrics.mean([layer(r, "tasks") for r in plain]),
        "spark.stage_busy_ms": metrics.median(busy),
        "spark.driver_gap_ms": metrics.median([r["wall_ms"] - layer(r, "busy_ms") for r in plain]),
        "spark.driver_gap_share": metrics.median(
            [(r["wall_ms"] - layer(r, "busy_ms")) / r["wall_ms"] for r in plain]),
        "spark.executor_cpu_ms": metrics.mean([layer(r, "cpu_ms") for r in plain]),
        "spark.core_utilization": run_ms / max(sum(busy) * cores, 1e-9),
        "spark.shuffle_write_bytes": metrics.mean([layer(r, "shuffle_write") for r in plain]),
        "spark.shuffle_read_bytes": metrics.mean([layer(r, "shuffle_read") for r in plain]),
        "spark.spill_bytes": metrics.mean([layer(r, "spill") for r in plain]),
        "spark.failed_tasks": sum(a["failed_tasks"] for a in layers.values()),
        "jvm.gc_ms": metrics.mean([r["gc_ms"] for r in base]),
        "trace.overhead_ms": metrics.median([r["wall_ms"] - untraced_wall[r["deck"]]
                                             for r in traced if r["deck"] in untraced_wall]),
        "trace.unattributed_share": metrics.median(
            [metrics.self_times(spans[r["i"]])[0] / r["wall_ns"] for r in traced
             if r["i"] in spans]),
    }


def span_check(result, ok):
    """Largest |sum of a traced request's span self times - its wall| (ns),
    the wall timed around the request independently of the spans."""
    spans = metrics.by_request(result["spans"])
    worst = 0
    for r in ok:
        if r["kind"] == "traced":
            total = sum(metrics.self_times(spans.get(r["i"], [])))
            worst = max(worst, abs(total - r["wall_ns"]))
    return worst


def process_age():
    """Seconds since this process started (from /proc/self/stat's start
    tick), or 0 where there is no /proc."""
    try:
        with open("/proc/self/stat") as f:
            start_tick = int(f.read().rsplit(")", 1)[1].split()[19])
        return time.clock_gettime(time.CLOCK_BOOTTIME) - start_tick / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return 0.0


def cpu_times():
    """The machine-wide jiffy counters of /proc/stat's `cpu` line (empty
    where there is no /proc)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def write_spans(result, path):
    """The traced requests' spans, with self times, as JSON lines."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for req, group in sorted(metrics.by_request(result["spans"]).items()):
            for s, self_ns in zip(group, metrics.self_times(group)):
                f.write(json.dumps(dict(s, self_ns=self_ns)) + "\n")


# ------------------------------------------------------------------- main

def main(argv=None):
    # turn SIGTERM into SystemExit so the cleanup in finally blocks runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: run from a repository checkout (src/main/scala missing)")
    process_start = time.time() - process_age()
    t_build = time.time()
    classpath, catalog = build()
    t_build = time.time() - t_build

    setup_start = time.time()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        deck, warm, data, heap = make_inputs(args.workload, args.seed, work, catalog)
        t_gen = time.time() - setup_start
        plan = {"workload": args.workload, "seconds": args.seconds, "trace": bool(args.trace),
                "cores": cores, "max_requests": 100000,
                "data_dir": data, "work_dir": work, "deck": deck, "warmup": warm}
        t_jvm, cpu0 = time.time(), cpu_times()
        result = run_harness(classpath, plan, heap,
                             max(10, RUN_LIMIT_S - (time.time() - setup_start)))
        # set-up phases, from the harness's own clock stamps
        stamps = [result[k] / 1e3 for k in ("jvm_start_ms", "session_ready_ms",
                                             "setup_done_ms", "window_start_ms")]
        t_setup = dict(zip(("jvm_to_session", "prebuilt_state", "warmup"),
                           [b - a for a, b in zip(stamps, stamps[1:])]),
                       jvm_launch=stamps[0] - t_jvm)
        t_jvm_exit = time.time() - result["window_end_ms"] / 1e3
        t_jvm = time.time() - t_jvm
        cpu = [b - a for a, b in zip(cpu0, cpu_times())]

        # process start -> first timed request, less a build of the harness
        setup_s = result["window_start_ms"] / 1e3 - process_start - t_build
        t_check = time.time()
        bad, expected, refine = check(args.workload, deck, result, data, work, cores, catalog)
        t_check = time.time() - t_check
        for r in result["requests"]:
            if r["ok"] and r["deck"] in bad:
                r["ok"], r["error"] = False, bad[r["deck"]]
            elif r["ok"] and r["digest"] != expected.get(r["deck"]):
                r["ok"], r["error"] = False, "result differs from the DuckDB oracle"
        reqs = result["requests"]
        ok = [r for r in reqs if r["ok"]]
        failed = [r for r in reqs if not r["ok"]]
        for r in failed:
            item = deck[r["deck"]]
            log(f"FAILED request {r['i']} ({item.get('name') or item.get('text')}): {r['error']}")
        worst_span = span_check(result, ok)
        if args.trace:
            write_spans(result, os.path.join(HERE, "work", "spans",
                                             f"{args.workload}-{args.seed}.jsonl"))
        refined = {c: sum(refine.get(r["deck"]) == c for r in ok) for c in ("tighten", "relax")}
        correct = not failed and worst_span <= SPAN_TOL_NS and bool(ok)

        # CPU time the hypervisor gave to other guests while the harness ran:
        # on a shared VM the clearest sign of a contended window
        steal = cpu[7] / sum(cpu) if len(cpu) > 7 and sum(cpu) else 0.0
        health = dict(result["health"], walls_ms=[round(r["wall_ms"], 3) for r in reqs],
                      cpu_steal_share=steal,
                      window_s=(result["window_end_ms"] - result["window_start_ms"]) / 1e3)
        detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "attempted": len(reqs), "failed": len(failed),
                  "failed_ratio": len(failed) / len(reqs) if reqs else 0.0,
                  "refined": refined, "span_self_sum_max_err_ns": worst_span,
                  "timeline_s": {"build": t_build, "inputs": t_gen, "jvm": t_jvm,
                                 "after_window": t_jvm_exit, "oracle": t_check,
                                 "setup": t_setup},
                  "cold_first": result["cold_first"], "health": health}
        units = LAYERS if args.trace else E2E
        values = {k: 0.0 for k in units}
        base = [r for r in reqs if r["kind"] == "untraced"]
        if any(r["ok"] for r in base):
            e2e, q90, n_samples = end_to_end(base, len(deck), setup_s, result["peak_rss_kb"])
            detail.update(latency_samples=n_samples, latency_p90_percentile=q90, end_to_end=e2e)
            values = per_layer(result, ok, deck, catalog, cores) if args.trace else e2e
        print(f"failed_ratio {len(failed)}/{len(reqs)} = {detail['failed_ratio']:.4f}")
        if "end_to_end" in detail:
            e = detail["end_to_end"]
            print(f"latency p50 {e['latency_p50_s']:.4f} s over {n_samples} samples; "
                  f"tail p{q90 * 100:.0f} {e['latency_p90_s']:.4f} s")
        if refine:
            print(f"refined requests: {refined['tighten']} tightened, {refined['relax']} relaxed")
        print(json.dumps(detail, sort_keys=True))
        print(json.dumps({"correct": correct, "attempted": len(reqs), "failed": len(failed),
                          "metrics": {k: {"value": float(values[k]), "unit": u}
                                      for k, u in units.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
