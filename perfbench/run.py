"""graft benchmark: one seeded workload, measured end to end or traced.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds graft from `src/main/scala`
(perfbench/build.py), generates the seeded fixture tables and op list,
runs them in a fresh JVM through graft's public entry points, checks
every op's output (DuckDB answers for KQL, invariants for the pipeline
and streaming ops) and prints one JSON object as its last line:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
Everything it writes goes under the build directory ($CARGO_TARGET_DIR,
default `.bench_build`), which each run wipes first.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402

import build  # noqa: E402
import datagen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

HEAP = "3g"
JVM_TIMEOUT_S = 165
WORKLOAD_TABLES = {
    "query": ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"],
    "pipeline": ["documents", "embeddings"],
}
# Spark 4 on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def loadavg():
    try:
        return open("/proc/loadavg").read().split()[:3]
    except OSError:
        return []


def cpu_steal_s():
    """CPU time the hypervisor gave to other guests so far (/proc/stat):
    its growth over a run tells a noisy host from a slow program."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None

# ------------------------------------------------------- stream inputs


def stream_batches(seed, cycles, batch_events, span_s):
    """{(stream, side, batch): columns} for every fed stream."""
    rng = np.random.default_rng([seed, 7])
    out = {}
    next_id = 0
    span_us = span_s * 1_000_000
    for s in workloads.STREAMS:
        for c in range(cycles):
            start = c * span_us
            cols = datagen.events_columns(rng, batch_events, start, span_us, next_id)
            next_id += batch_events
            if s == "dedup":   # planted in-batch duplicates (same id and time)
                dup = rng.choice(batch_events, batch_events // 10, replace=False)
                src = rng.integers(0, batch_events, len(dup))
                for k in ("event_id", "ts"):
                    cols[k][dup] = cols[k][src]
            out[(s, 0, c)] = cols
            if s == "join":    # purchases by the batch's users, 0-10 min later
                n = batch_events // 3
                pick = rng.integers(0, batch_events, n)
                r = datagen.events_columns(rng, n, 0, 1, next_id)
                next_id += n
                r["user_id"] = cols["user_id"][pick]
                r["ts"] = cols["ts"][pick] + rng.integers(0, 600_000_000, n)
                r["event_type"] = ["purchase"] * n
                out[(s, 1, c)] = r
    return out


def write_stream_tsv(path, batches):
    base = int(np.datetime64(datagen.EVENT_START, "us").astype("int64"))
    with open(path, "w") as f:
        for (s, side, b), c in batches.items():
            for i in range(len(c["event_id"])):
                f.write(f"{s}\t{side}\t{b}\t{c['event_id'][i]}\t{base + int(c['ts'][i])}\t"
                        f"{c['user_id'][i]}\t{c['event_type'][i]}\t{float(c['value'][i])!r}\n")
    return base

# ------------------------------------------------------------- checks


def check_ops(records, ops_by_id, orc, stream_in=None, warmup=(), sinks=None, min_value=0.0):
    """Mark each record's `failed` and `why`; returns the count failed.
    A stream whose sink is wrong after the run fails its last feed op."""
    history = []
    fed = {}
    for op in warmup:     # the streams' first batches went in during warm-up
        if op["kind"] == "stream" and op["stream"] != "matview_read":
            fed.setdefault(op["stream"], []).append(stream_in[(op["stream"], 0)][op["cycle"]])
            if op["stream"] == "join":
                fed.setdefault("join_r", []).append(stream_in[("join", 1)][op["cycle"]])
    failed = 0
    for r in sorted(records, key=lambda r: r["id"]):
        op = ops_by_id[r["id"]]
        why = None
        if not r["ok"]:
            why = r["error"]
        elif op["kind"] == "kql":
            why = orc.check_kql(op, r["result"])
        elif op["kind"] == "llm":
            why = orc.check_llm(op, r["result"], history)
            history.append(op)
        else:
            s = op["stream"]
            if s != "matview_read":
                fed.setdefault(s, []).append(stream_in[(s, 0)][op["cycle"]])
                if s == "join":
                    fed.setdefault("join_r", []).append(stream_in[("join", 1)][op["cycle"]])
            res = r["result"]
            if s == "matview_read":
                res = sorted(row[:4] for row in res)
            why = oracle.check_stream(op, res, fed)
        r["failed"] = why is not None
        r["why"] = why
    if sinks is not None:
        last = {ops_by_id[r["id"]]["stream"]: r for r in sorted(records, key=lambda r: r["id"])
                if ops_by_id[r["id"]]["kind"] == "stream"}
        for s, why in oracle.check_sinks(sinks, fed, min_value).items():
            if s in last and not last[s]["failed"]:
                last[s]["failed"], last[s]["why"] = True, f"{s} sink: {why}"
    return sum(r["failed"] for r in records)

# ------------------------------------------------------------ metrics


def e2e_metrics(out, records):
    """End-to-end metrics of an untraced run, and the ones printed but
    not bounded."""
    ok = [r for r in records if not r["failed"]]
    lat = [r["t1"] - r["t0"] for r in ok]
    phase = sum(p["end"] - p["start"] for p in out["phases"] if not p["traced"])
    m = {
        "latency_p50_s": (stats.median(lat) if lat else float("nan"), "s"),
        "throughput_ops_s": (len(ok) / phase, "1/s"),
        "peak_rss_mb": (out["env"]["vm_hwm_kb"] / 1024.0, "MB"),
        "setup_s": (out["setup_s"], "s"),
    }
    extra = {
        "latency_p90_s": (stats.percentile(lat, 90) if lat else float("nan"), "s"),
        "latency_samples": (len(lat), "count"),
        "failed_ratio": ((len(records) - len(ok)) / max(len(records), 1), "ratio"),
    }
    return m, extra


KQL_LAYERS = ["catalog", "parse", "plan", "catalyst.optimization", "catalyst.planning", "exec"]
EXEC_COUNTERS = {"exec.stages": "stages", "exec.tasks": "tasks", "exec.task_run_s": "run_s",
                 "exec.task_cpu_s": "cpu_s", "exec.scheduler_delay_s": "sched_s",
                 "exec.gc_s": "gc_s", "exec.shuffle_write_bytes": "shuffle_w",
                 "exec.shuffle_read_bytes": "shuffle_r", "exec.spill_bytes": "spill"}
STREAM_DURATIONS = {"stream.trigger_s": "triggerExecution", "stream.add_batch_s": "addBatch",
                    "stream.query_planning_s": "queryPlanning", "stream.wal_commit_s": "walCommit",
                    "stream.commit_offsets_s": "commitOffsets"}


def per_layer_names():
    names = ["catalog.resolve_s", "catalog.tables", "catalog.jobs", "parser.parse_s",
             "planner.plan_s", "planner.jobs", "catalyst.analysis_s", "catalyst.optimization_s",
             "catalyst.planning_s", "exec.wall_s", "exec.jobs", *EXEC_COUNTERS, "exec.max_task_s",
             "exec.result_rows"]
    names += [f"llm.{s}_s" for s in workloads.LLM_STAGES]
    names += ["llm.self_s", "llm.ivf_scan_fraction", "index.bytes_written",
              "index.bytes_per_input_byte", "index.files", *STREAM_DURATIONS,
              "stream.state_commit_s", "stream.state_rows", "stream.state_memory_bytes",
              "stream.rows_dropped_by_watermark", "other_s", "trace.overhead_ratio",
              "failed_ratio", "latency_p90_s", "latency_samples"]
    return names


def unit_of(name):
    if name.endswith(("ratio", "fraction", "per_input_byte")):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return "s" if name.endswith("_s") else "count"


def op_layers(r, op, doc_bytes):
    """Per-op layer values for one traced record (a dict of sums)."""
    v = {}
    spans = {s["name"]: (s["start"], s["end"]) for s in r.get("spans", [])}
    jobs = r.get("jobs", [])
    wall = (r["t0"], r["t1"])

    def jobs_in(name):
        if name not in spans:
            return []
        a, b = spans[name]
        return [j for j in jobs if a <= j["start"] <= b]

    # every op's jobs are attributed: its own job group's, and for a
    # stream feed the jobs its query ran while the op waited
    for k, f in EXEC_COUNTERS.items():
        v[k] = sum(j[f] for j in jobs)
    v["exec.max_task_s"] = max([j["max_task_s"] for j in jobs], default=0.0)
    if "result_rows" in (r.get("extra") or {}):
        v["exec.result_rows"] = r["extra"]["result_rows"]
    kind = op["kind"]
    if kind == "kql":
        cat = r.get("catalyst", {})
        ex = spans.get("execute", wall)
        ivs = {n: [spans[n]] for n in ("catalog", "parse", "plan") if n in spans}
        for ph in ("optimization", "planning"):
            if ph in cat:
                ivs[f"catalyst.{ph}"] = stats.clip([tuple(cat[ph])], *ex)
        ivs["exec"] = [(j["start"], j["end"]) for j in jobs_in("execute") if j["end"] is not None]
        split = stats.layer_split(wall, [(n, ivs.get(n, [])) for n in KQL_LAYERS])
        v.update({"catalog.resolve_s": split["catalog"], "parser.parse_s": split["parse"],
                  "planner.plan_s": split["plan"],
                  "catalyst.optimization_s": split["catalyst.optimization"],
                  "catalyst.planning_s": split["catalyst.planning"],
                  "exec.wall_s": split["exec"], "other_s": split["other"],
                  "catalog.tables": len(op["tables"]), "catalog.jobs": len(jobs_in("catalog")),
                  "planner.jobs": len(jobs_in("plan")), "exec.jobs": len(jobs_in("execute"))})
        if "analysis" in cat:
            v["catalyst.analysis_s"] = cat["analysis"][1] - cat["analysis"][0]
    elif kind == "llm":
        name = f"llm.{op['stage']}"
        span = spans.get(name, wall)
        ex = [(j["start"], j["end"]) for j in jobs if j["end"] is not None]
        split = stats.layer_split(wall, [("exec", ex), ("llm", [span])])
        v.update({f"{name}_s": span[1] - span[0], "exec.wall_s": split["exec"],
                  "llm.self_s": stats.self_time(span, ex), "other_s": split["other"],
                  "exec.jobs": len(jobs)})
        extra = r.get("extra") or {}
        if "index" in extra:
            v["index.bytes_written"], v["index.files"] = extra["index"]
            v["_index_input_bytes"] = doc_bytes(op)
        if "index_rows" in extra and extra["index_rows"]:
            v["llm.ivf_scan_fraction"] = extra["scanned_rows"] / extra["index_rows"]
    else:
        prog = r.get("progress", [])
        for k, d in STREAM_DURATIONS.items():
            v[k] = sum(p["duration_ms"].get(d, 0) for p in prog) / 1e3
        states = [s for p in prog for s in p["state"]]
        v["stream.state_commit_s"] = sum(s["commit_ms"] for s in states) / 1e3
        v["stream.rows_dropped_by_watermark"] = sum(s["dropped_by_watermark"] for s in states)
        last = [s for s in prog[-1]["state"]] if prog else []
        v["stream.state_rows"] = sum(s["rows"] for s in last)
        v["stream.state_memory_bytes"] = sum(s["memory_bytes"] for s in last)
        ex = [(j["start"], j["end"]) for j in jobs if j["end"] is not None]
        split = stats.layer_split(wall, [("exec", ex)])
        v["exec.wall_s"] = split["exec"]
        v["exec.jobs"] = len(jobs)
        # a feed's jobs run inside its micro-batches' trigger time
        v["other_s"] = split["other"] if not prog else max(0.0, wall[1] - wall[0] - v["stream.trigger_s"])
    return v


def layer_metrics(records, ops_by_id, doc_bytes):
    """Per-layer metrics of a traced run. Each is the mean over the traced
    ops that report it (an op that does not touch a layer is not a zero
    sample); a metric that no op reports is 0."""
    traced = [r for r in records if r["traced"] and not r["failed"]]
    untraced = [r for r in records if not r["traced"] and not r["failed"]]
    acc = {}
    idx_in = 0.0
    for r in traced:
        v = op_layers(r, ops_by_id[r["id"]], doc_bytes)
        idx_in += v.pop("_index_input_bytes", 0.0)
        for k, x in v.items():
            acc.setdefault(k, []).append(x)
    m = {k: sum(xs) / len(xs) for k, xs in acc.items()}
    written = sum(acc.get("index.bytes_written", []))
    m["index.bytes_per_input_byte"] = written / idx_in if idx_in else 0.0
    # overhead: per template seen in both modes, traced over untraced
    # median latency; the median of those ratios
    by = {}
    for r in traced + untraced:
        by.setdefault((r["template"], r["traced"]), []).append(r["t1"] - r["t0"])
    ratios = [stats.median(by[(t, True)]) / stats.median(by[(t, False)])
              for t, tr in by if tr and (t, False) in by]
    m["trace.overhead_ratio"] = stats.median(ratios) if ratios else 0.0
    lu = [r["t1"] - r["t0"] for r in untraced]
    m["failed_ratio"] = sum(r["failed"] for r in records) / max(len(records), 1)
    m["latency_p90_s"] = stats.percentile(lu, 90) if lu else 0.0
    m["latency_samples"] = len(lu)
    return {k: (m.get(k, 0.0), unit_of(k)) for k in per_layer_names()}

# ----------------------------------------------------------------- main


def git_commit(root):
    """HEAD of the checkout when it is a git work tree, else None (the
    source hash in the result identifies the code either way)."""
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main(argv=None):
    # a terminated run unwinds, so the harness JVM is killed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.SPEC))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        log("run from the repository root: src/main/scala not found")
        return 2
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = build.build(root, build_dir)
    t_start = time.time()       # the build may take long on a fresh checkout
    marks = {}

    run_dir = os.path.join(build_dir, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data", "sf0.1")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    spec = workloads.SPEC[a.workload]
    tables = WORKLOAD_TABLES[a.workload]
    sizes = datagen.write_tables(data, a.seed, spec["sf"], tables)
    n = sizes.get("documents", 0), sizes.get("embeddings", 0)
    warm_dir = os.path.join(run_dir, "data", "warm")
    datagen.write_tables(warm_dir, a.seed, workloads.WARMUP_SF, tables)
    # whole cycles: k untraced, then (traced run) k traced
    k = max(1, round(a.seconds / spec["cycle_s"]))
    ops = workloads.generate(a.workload, a.seed, k * (1 + a.trace), *n)
    first = min(op["cycle"] for op in ops)
    for op in ops:
        op["segment"] = int(op["cycle"] - first >= k)
    warmup = workloads.warmup_ops(a.workload, a.seed, *n)
    cfg = {"workload": a.workload, "trace": bool(a.trace),
           "clients": spec["clients"], "cores": os.cpu_count(),
           "data_dir": data, "warm_dir": warm_dir, "warehouse": os.path.join(run_dir, "warehouse"),
           "local_dir": os.path.join(run_dir, "local"), "ops": ops, "tables": tables,
           "warmup": warmup, "stream_min_value": 0.0}
    stream_in = None
    if a.workload == "pipeline":
        batches = stream_batches(a.seed, 1 + k * (1 + a.trace), spec["batch_events"],
                                 spec["batch_span_s"])
        base = write_stream_tsv(os.path.join(run_dir, "stream_events.tsv"), batches)
        cfg["stream_events"] = os.path.join(run_dir, "stream_events.tsv")
        cfg["stream_min_value"] = float(np.random.default_rng([a.seed, 11]).integers(10, 40))
        stream_in = {}
        for (s, side, b), c in sorted(batches.items()):
            stream_in.setdefault((s, side), []).append(
                [(base + int(t), e, float(v), int(i), int(u)) for t, e, v, i, u in
                 zip(c["ts"].astype("int64"), c["event_type"], c["value"], c["event_id"],
                     c["user_id"])])
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)

    out_path = os.path.join(run_dir, "harness.json")
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    cmd = ["java", f"-Xmx{HEAP}", "-Xss16m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", f"-Dderby.system.home={os.path.join(run_dir, 'tmp')}",
           "-cp", cp, "graft.perfbench.Harness", cfg_path, out_path]
    marks["prepare_s"] = time.time() - t_start
    load_before, steal_before = loadavg(), cpu_steal_s()
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = proc.wait(timeout=max(30, JVM_TIMEOUT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            log("harness JVM timed out; see " + os.path.join(run_dir, "jvm.log"))
            return 3
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out_path):
        log(f"harness JVM exited {rc}; see {os.path.join(run_dir, 'jvm.log')}")
        return 4
    load_after, steal_after = loadavg(), cpu_steal_s()
    marks["jvm_s"] = time.time() - t_start - marks["prepare_s"]
    out = json.load(open(out_path))
    records = out["ops"]
    if not records:
        log("no op completed")
        return 5
    ops_by_id = {op["id"]: op for op in ops}
    orc = oracle.Oracle(data, tables)
    failed = check_ops(records, ops_by_id, orc, stream_in, warmup, out.get("sinks") or None,
                       cfg["stream_min_value"])
    for r in records:
        if r["failed"]:
            log(f"op {r['id']} ({r['template']}) failed: {str(r['why'])[:300]}")

    if a.trace:
        texts = None

        def doc_bytes(op):
            nonlocal texts
            if texts is None:
                texts = dict(orc.con.execute("SELECT doc_id, strlen(text) FROM documents").fetchall())
            return sum(texts.get(i, 0) for i in range(op["doc_lo"], op["doc_hi"]))
        metrics = layer_metrics(records, ops_by_id, doc_bytes)
        shown = metrics
    else:
        metrics, extra = e2e_metrics(out, records)
        shown = {**metrics, **extra}
    summary = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cycles": k, "warmup_ops_s": out["warmup_ops_s"],
        "wall_s": dict(marks, check_s=time.time() - t_start - sum(marks.values())),
        "nproc": os.cpu_count(), "loadavg_before": load_before, "loadavg_after": load_after,
        "cpu_steal_s": (steal_after - steal_before) if steal_before is not None else None,
        "env": out["env"],
        "setup_parts_s": {k: out[k] for k in ("session_s", "runner_s", "warmup_s")},
        "source_sha256": open(os.path.join(build_dir, "classes.stamp")).read(),
        "git_commit": git_commit(root),
        "attempted": len(records), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
        "failures": [{"id": r["id"], "template": r["template"], "why": r["why"]}
                     for r in records if r["failed"]],
    }
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print(f"{a.workload:>13} host: nproc {summary['nproc']}, loadavg {' '.join(load_before)} -> "
          f"{' '.join(load_after)}, cpu steal {summary['cpu_steal_s']} s, cycles {k}")
    for name, (v, u) in shown.items():
        print(f"{a.workload:>13} {name:<34} {v:>16.6g} {u}")
    print(json.dumps({"correct": failed == 0, "attempted": len(records), "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
