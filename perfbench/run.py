#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md): interactive, dedup_batch, ingest_diff.
The first run in a checkout compiles the program and generates its tables
(perfbench/build.py). Each run then starts one JVM on local[nproc], which
sets up, warms every op once, runs the timed closed loop for --seconds
(whole passes; ingest: whole episodes, at least two) and writes raw
observations. This script checks the outputs, prints a report line per
metric and, last, one JSON line: {"correct", "attempted", "failed",
"metrics"} with the end-to-end metrics (--trace 0) or the per-layer
metrics of a traced run (--trace 1).
A traced run also writes its spans and per-layer self times to
<build dir>/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import outcheck  # noqa: E402
import plan  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("interactive", "dedup_batch", "ingest_diff")
RUN_TIMEOUT_S = 170
MB = 1048576.0
MODULES = ("Relational", "Windows", "Scalars", "TextOps", "Vectors", "DedupOverlap")
EXPECTED = Path(__file__).resolve().parent / "expected.json"


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_kb():
    try:
        with open("/proc/meminfo") as f:
            return next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return None


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                              capture_output=True, text=True, timeout=10
                              ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def shuffle_partitions(cores, sf_dir):
    """graft.Bench's default: one partition per 32 MB of input, in [8, cores]."""
    size = sum(p.stat().st_size for p in Path(sf_dir).rglob("*") if p.is_file())
    return max(8, min(cores, -(-size // (32 << 20))))


def make_plan(args, run_dir, sf_dir, cores):
    p = {
        "workload": args.workload, "sf_dir": str(sf_dir), "run_dir": str(run_dir),
        "seconds": args.seconds, "trace": bool(args.trace), "cores": cores,
        "shuffle_partitions": shuffle_partitions(cores, sf_dir),
        "result": str(run_dir / "result.json"),
    }
    if args.workload == "ingest_diff":
        p["ingest"] = {"cycles": plan.ingest_plan(args.seed, n_base=5000)}
    else:
        p["ops"] = plan.QUERY_OPS[args.workload]
        p["passes"] = plan.op_passes(args.workload, args.seed, 64)
        p["check_dir"] = str(run_dir / "check")
    return p


def check_queries(res, p):
    """Names of ops whose warm-up result does not hash to the oracle's."""
    import duckdb
    expected = json.loads(EXPECTED.read_text())["ops"]
    con = duckdb.connect()
    bad = {}
    for name in p["ops"]:
        status = res["warmup"].get(name)
        if status != "ok":
            bad[name] = f"warm-up failed: {status}"
            continue
        got = outcheck.parquet_hash(con, f"{p['check_dir']}/{name}")
        if got != expected[name]["sha256"]:
            bad[name] = f"result hash {got[:12]} != oracle {expected[name]['sha256'][:12]}"
    return bad


def check_ingest(res, p):
    """(episode, cycle) pairs whose observed counts differ from the plan."""
    cycles = p["ingest"]["cycles"]
    bad = {}
    for obs in res["cycles"]:
        want = cycles[obs["cycle"] - 1]["expect"]
        got = {k: obs.get(k, 0) for k in want}
        if got != want:
            bad[(obs["episode"], obs["cycle"])] = f"got {got}, planted {want}"
    return bad


def end_to_end(res, t_spawn, n_failed):
    lats = [o["latency_s"] for o in res["ops"]]
    n = len(lats)
    m = {
        "setup_s": (res["first_op_epoch_ms"] / 1000.0 - t_spawn, "s"),
        "latency_p50_s": (statistics.median(lats), "s"),
        "ops_per_s": (n / res["timed_wall_s"], "1/s"),
        "error_rate": (n_failed / n, "ratio"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    tail = stats.tail_percentile(n)
    if tail is not None:
        m[f"latency_p{tail:g}_s"] = (stats.nearest_rank(lats, tail), "s")
    if res.get("episodes"):
        e = res["episodes"][0]
        m["bytes_stored_per_live_byte"] = (e["history_bytes"] / e["live_bytes"], "ratio")
    return m


def per_layer(res, cores):
    """Per-layer sums over the timed phase of a traced run, plus the self
    time of every span kind."""
    ops = {o["op"]: o for o in res["ops"]}
    spans = [s for s in res["spans"] if s["op"] in ops]  # timed ops only
    by_id = {s["id"]: s for s in spans}
    selft = stats.self_times(spans)
    setup = res["setup"]
    drained = {}
    for s in spans:
        if s["name"] == "trace.drain":
            drained[s["parent"]] = drained.get(s["parent"], 0.0) + s["end_ms"] - s["start_ms"]

    def dur(s):
        """A span's wall time less the listener-bus drains inside it."""
        return (s["end_ms"] - s["start_ms"] - drained.get(s["id"], 0.0)) / 1000.0

    def parent_name(s):
        return by_id[s["parent"]]["name"] if s["parent"] in by_id else None

    def total(name):
        return sum(dur(s) for s in spans if s["name"] == name)

    def jobs_under(names):
        return [s for s in spans if s["name"] == "job" and parent_name(s) in names]

    def csum(js, key):
        return sum(j.get("counters", {}).get(key, 0.0) for j in js)

    m = {
        "tables.cache_s": setup.get("tables.cache_s", 0.0),
        "tables.cached_mb": setup.get("tables.cached_mb", 0.0),
        "indexstore.build_s": setup.get("indexstore.build_s", 0.0),
        "indexstore.builds_timed": res.get("indexstore_builds_timed", 0),
        "queries.build_s": total("queries.build"),
        "queries.build_jobs": len(jobs_under({"queries.build"})),
    }
    for mod in MODULES:
        b = [s for s in spans if s["name"] == "queries.build"
             and ops.get(s["op"], {}).get("module") == mod]
        ids = {s["id"] for s in b}
        m[f"queries.{mod}.build_s"] = sum(dur(s) for s in b)
        m[f"queries.{mod}.build_jobs"] = sum(
            1 for s in spans if s["name"] == "job" and s["parent"] in ids)
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_s"] = total(f"catalyst.{ph}")
    m["codegen.compiles"] = res.get("codegen_compiles_timed", 0)
    m["codegen.setup_compiles"] = setup.get("codegen.setup_compiles", 0.0)

    # Execution: jobs outside the builders, and the wall time they cover.
    exec_parents = {"action", "versioned.append", "versioned.diff",
                    "versioned.latest", "sources.report"}
    ej = jobs_under(exec_parents)
    exec_s = 0.0
    for op in ops:
        exec_s += stats.union_length(
            [(j["start_ms"], j["end_ms"]) for j in ej if j["op"] == op]) / 1000.0
    busy = csum(ej, "task_busy_ms") / 1000.0
    m.update({
        "exec.s": exec_s,
        "exec.jobs": len(ej),
        "exec.stages": csum(ej, "stages"),
        "exec.tasks": csum(ej, "tasks"),
        "exec.task_busy_s": busy,
        "exec.task_wait_s": csum(ej, "task_wait_ms") / 1000.0,
        "exec.core_util": busy / (exec_s * cores) if exec_s > 0 else 0.0,
        "exec.shuffle_write_mb": csum(ej, "shuffle_write_bytes") / MB,
        "exec.shuffle_read_mb": csum(ej, "shuffle_read_bytes") / MB,
        "exec.spill_mb": csum(ej, "spill_bytes") / MB,
        "exec.peak_exec_mem_mb": max(
            [j.get("counters", {}).get("peak_exec_mem_bytes", 0.0) for j in ej] or [0.0]) / MB,
        "exec.failed_tasks": csum(jobs_under(exec_parents | {"queries.build"}), "failed_tasks"),
    })
    cyc = res.get("cycles", [])
    m.update({
        "versioned.append_s": total("versioned.append"),
        "versioned.bytes_written_mb": sum(c["bytes_written"] for c in cyc) / MB,
        "versioned.files_written": sum(c["files_written"] for c in cyc),
        "versioned.diff_s": total("versioned.diff"),
        "versioned.diff_read_mb": csum(jobs_under({"versioned.diff"}), "input_bytes") / MB,
        "versioned.latest_s": total("versioned.latest"),
        "versioned.latest_read_mb": csum(jobs_under({"versioned.latest"}), "input_bytes") / MB,
        "sources.report_s": total("sources.report"),
        "sources.report_files": sum(c["report_files"] for c in cyc),
    })
    # Self time by span kind (an op's root span is the harness's own time).
    kinds = {}
    for s in spans:
        k = "harness" if s["parent"] == -1 else s["name"]
        kinds[k] = kinds.get(k, 0.0) + selft[s["id"]] / 1000.0
    for k in ("harness", "queries.build", "action", "job", "versioned.append",
              "versioned.diff", "versioned.latest", "sources.report"):
        m[f"self.{k}_s"] = kinds.get(k, 0.0)
    m["self.catalyst_s"] = sum(v for k, v in kinds.items() if k.startswith("catalyst."))
    m["trace.drain_s"] = kinds.get("trace.drain", 0.0)
    m["trace.latency_p50_s"] = statistics.median(o["latency_s"] for o in res["ops"])
    m["trace.ops"] = len(res["ops"])
    return m, kinds


def per_cycle(res):
    """Read volume of diff and latest per ingest cycle (first episode)."""
    spans = res["spans"]
    by_id = {s["id"]: s for s in spans}
    rows = {}
    ops = {o["op"]: o for o in res["ops"] if o["pass"] == 0}
    for s in spans:
        p = by_id.get(s["parent"])
        if s["name"] == "job" and p and s["op"] in ops and p["name"] in (
                "versioned.diff", "versioned.latest"):
            r = rows.setdefault(s["op"], {"diff_read_mb": 0.0, "latest_read_mb": 0.0})
            key = "diff_read_mb" if p["name"] == "versioned.diff" else "latest_read_mb"
            r[key] += s.get("counters", {}).get("input_bytes", 0.0) / MB
    return [rows[k] for k in sorted(rows)]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an exception, so the JVM is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        cp, sf_dir, src_hash = build.ensure_built()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    t_start = time.time()  # the JVM's time limit starts after any build
    cores = nproc()
    bd = build.build_dir()
    run_dir = bd / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        (run_dir / d).mkdir(parents=True)
    try:
        p = make_plan(args, run_dir, sf_dir, cores)
        (run_dir / "plan.json").write_text(json.dumps(p))
        cmd = [build.java_bin(), *build.jvm_opts(),
               f"-Djava.io.tmpdir={run_dir / 'tmp'}",
               "-cp", os.pathsep.join(cp), "perfbench.PerfBench", str(run_dir / "plan.json")]
        budget = RUN_TIMEOUT_S - (time.time() - t_start)
        log = run_dir / "jvm.log"
        t_spawn = time.time()
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=str(run_dir))
            try:
                rc = proc.wait(timeout=max(30.0, budget))
            except subprocess.TimeoutExpired:
                print("[perfbench] run timed out", file=sys.stderr)
                return 3
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0 or not (run_dir / "result.json").exists():
            sys.stderr.write(log.read_text()[-4000:])
            print(f"[perfbench] JVM exited with {rc}", file=sys.stderr)
            return 4
        res = json.loads((run_dir / "result.json").read_text())

        if args.workload == "ingest_diff":
            bad = check_ingest(res, p)
            failed_ops = [o for o, c in zip(res["ops"], res["cycles"])
                          if "error" in o or (c["episode"], c["cycle"]) in bad]
        else:
            bad = check_queries(res, p)
            failed_ops = [o for o in res["ops"] if "error" in o or o["name"] in bad]
        for k, why in bad.items():
            print(f"[perfbench] output check failed: {k}: {why}", file=sys.stderr)
        for o in res["ops"]:
            if "error" in o:
                print(f"[perfbench] op {o['name']} failed: {o['error']}", file=sys.stderr)
        attempted, failed = len(res["ops"]), len(failed_ops)

        provenance = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": cores, "mem_total_kb": mem_total_kb(),
            "heap": build.heap(), "git_commit": git_commit(), "program_src_hash": src_hash,
            "bench_src_hash": build.bench_sources_hash(), "spark_version": res["spark_version"],
            "spark_conf": res["spark_conf"], "loop": "closed, 1 client",
        }
        print("provenance " + json.dumps(provenance, sort_keys=True))
        declared = json.loads((build.ROOT / "BENCHMARK.json").read_text())
        e2e = end_to_end(res, t_spawn, failed)
        if args.trace:
            metrics, kinds = per_layer(res, cores)
            unit_of = {x["name"]: x["unit"] for x in declared["per_layer"]}
            trace_dir = bd / "traces"
            trace_dir.mkdir(exist_ok=True)
            (trace_dir / f"{args.workload}-seed{args.seed}.json").write_text(json.dumps({
                "provenance": provenance, "per_layer": metrics, "self_time_s": kinds,
                "per_cycle": per_cycle(res) if args.workload == "ingest_diff" else None,
                "spans": res["spans"], "ops": res["ops"]}))
            out = {k: {"value": metrics[k], "unit": unit_of[k]} for k in unit_of}
        else:
            out = {x["name"]: {"value": e2e[x["name"]][0], "unit": x["unit"]}
                   for x in declared["end_to_end"]}
        by_name = {}
        for o in res["ops"]:
            by_name.setdefault(o["name"], []).append(o["latency_s"])
        for name, lats in sorted(by_name.items()):
            print(f"op {name} n={len(lats)} p50={statistics.median(lats):.4f} s")
        for k, (v, u) in e2e.items():
            print(f"metric {k} = {v:.6g} {u}")
        print(f"metric attempted = {attempted}; failed = {failed}")
        print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": out}))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
