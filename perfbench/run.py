#!/usr/bin/env python3
"""One-command runner of the benchmark.

    python3 perfbench/run.py --workload wire_short|pipeline \
        --seed N --seconds S --trace 0|1

Builds the program and the harness from source (build.py), generates the
data once (gen_data.py) and the seeded inputs of this run (workloads.py),
runs the harness JVM, checks every answer against DuckDB or the stored
answers outside the timed region, and prints each metric with its unit
and sample count. The last line of stdout is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics of a traced run.

Everything it writes goes under `.bench_build/` at the repository root;
the inputs of a run are kept there (`runs/<workload>-<seed>-t<trace>/
inputs.json`) so it can be replayed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import answers  # noqa: E402
import build  # noqa: E402
import gen_data  # noqa: E402
import workloads  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
REPLAY_LIMIT = 120   # wire statements replayed in-process when traced
JVM_TIMEOUT_S = 165

END_TO_END = {"setup_s": "s", "latency_p50_ms": "ms",
              "latency_tail_ms": "ms", "throughput_qps": "statements/s"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def heap_size():
    """JVM heap of the tier-1 run (SPARK_DRIVER_MEM): half the host's
    memory in GB, 2g..8g."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def ensure_data(sf):
    """The fixed-seed data set of one scale factor, generated once."""
    with open(os.path.join(HERE, "gen_data.py"), "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:12]
    d = os.path.join(BUILD_DIR, "data", f"sf{sf}-{tag}")
    if not os.path.exists(os.path.join(d, ".done")):
        log(f"generating sf{sf} data")
        shutil.rmtree(d, ignore_errors=True)
        gen_data.generate(d, float(sf))
        open(os.path.join(d, ".done"), "w").close()
    return d


def tail(lat):
    """The highest percentile with at least ten samples beyond it, and
    that percentile. With 11 samples or fewer it is the minimum."""
    s = sorted(lat)
    n = len(s)
    return s[max(n - 11, 0)], max(100.0 * (n - 10) / n, 0.0)


def statements_by_id(inputs):
    """Every timed statement of the inputs, by the id the harness reports.
    A script is one statement per SQL statement; only its last (the
    read-back SELECT) returns rows to check."""
    by_id = {}
    for s in (s for p in inputs["passes"] for s in p):
        if s["kind"] != "script":
            by_id[s["id"]] = s
            continue
        last = len(s["script"]) - 1
        for k, sql in enumerate(s["script"]):
            by_id[f"{s['id']}.{k}"] = ({"kind": "sql", "sql": sql, "duck": s["duck"]}
                                      if k == last else {"kind": "dml", "sql": sql})
    return by_id


class References:
    """Where each statement's reference answer comes from: DuckDB running
    the statement's own DuckDB text or the registry entry's
    `SparkEntry.oracleSql`, else the answers stored with the benchmark
    (`answers.json`, the program's catalog answers as they were when the
    benchmark was added)."""

    def __init__(self, data_dir, oracle_sql):
        self.oracle = answers.Oracle(data_dir, os.path.join(data_dir, "answers-cache.json"))
        self.oracle_sql = oracle_sql
        self.stored = answers.stored()

    def duck_sql(self, s):
        if s.get("duck"):
            return s["duck"]
        if s["kind"] == "query":
            return self.oracle_sql.get(s["name"])
        return None

    @staticmethod
    def key(s):
        return f"{s['kind']}:{s.get('sql') or s.get('name')}"

    def answer(self, s):
        sql = self.duck_sql(s)
        return self.oracle.answer(sql) if sql else self.stored.get(self.key(s))

    def save(self):
        self.oracle.save()


def check(recs, by_id, refs):
    """The (id, reason) of every statement that errored or answered
    wrongly."""
    bad = []
    for r in recs:
        s = by_id[r["id"]]
        if r["error"] is not None:
            bad.append((r["id"], "error: " + r["error"]))
        elif s["kind"] == "dml":
            continue  # a DML statement's effect is checked by the read-back
        else:
            want = refs.answer(s)
            if want is None:
                bad.append((r["id"], f"no reference answer for {refs.key(s)}"))
            elif [r["rows"], r["hash"]] != want:
                bad.append((r["id"], f"wrong answer: {r['rows']} rows/{r['hash']} "
                                     f"!= {want[0]} rows/{want[1]}"))
    return bad


def run_harness(a, inputs, classes, data_dir, run_dir):
    """Run the harness JVM on this run's inputs; returns its result."""
    work = os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))
    strip = ("template", "duck")
    cfg = {
        "workload": a.workload, "trace": bool(a.trace),
        "cpus": cpus(), "data_dir": data_dir, "work_dir": work,
        "connections": inputs["connections"],
        "replay_limit": REPLAY_LIMIT,
        "warmup": [{k: v for k, v in s.items() if k not in strip} for s in inputs["warmup"]],
        "passes": [[{k: v for k, v in s.items() if k not in strip} for s in p]
                   for p in inputs["passes"]],
        "out": os.path.join(run_dir, "result.json"),
        "spans_out": os.path.join(run_dir, "spans.jsonl"),
    }
    cfg_path = os.path.join(run_dir, "config.json")
    jvm = ["java", "-XX:-UsePerfData"] + build.jvm_opens() + [
        f"-Xmx{heap_size()}", "-Xss16m", "-Duser.timezone=UTC",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", build.classpath(classes), "perfbench.Main", cfg_path]
    cfg["launch_epoch_ms"] = time.time() * 1000.0
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(jvm, stdout=logf, stderr=subprocess.STDOUT, cwd=ROOT)
        # a runner that is stopped stops its JVM first
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"harness timed out after {JVM_TIMEOUT_S}s; see {log_path}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"harness failed with exit code {code}")
    shutil.rmtree(work, ignore_errors=True)
    with open(cfg["out"]) as fh:
        return json.load(fh)


def layer_unit(name):
    leaf = name.split(".", 1)[1]
    if leaf == "bytes_per_row":
        return "bytes/row"
    if "bytes" in leaf:
        return "bytes"
    if leaf.endswith("_ms"):
        return "ms"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith(("_ratio", "_share")):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    os.makedirs(BUILD_DIR, exist_ok=True)
    classes = build.build(BUILD_DIR)
    inputs = workloads.generate(a.workload, a.seed, a.seconds)
    data_dir = ensure_data(inputs["scale_factor"])
    run_dir = os.path.join(BUILD_DIR, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    with open(os.path.join(run_dir, "inputs.json"), "w") as fh:
        json.dump(inputs, fh)
    res = run_harness(a, inputs, classes, data_dir, run_dir)

    # ---- answers, outside the timed region
    refs = References(data_dir, res["oracle_sql"])
    by_id = statements_by_id(inputs)
    timed = res["traced"]["statements"] if a.trace else res["statements"]
    checked = timed + (res["traced"]["replay"] if a.trace else [])
    bad = check(checked, by_id, refs)
    refs.save()
    for i, why in bad[:20]:
        log(f"FAILED {i}: {why}")
    bad_ids = {i for i, _ in bad}
    failed = sum(1 for r in timed if r["id"] in bad_ids)
    attempted = len(timed)

    # ---- metrics
    lat = [r["lat_ms"] for r in timed]
    n = len(lat)
    tail_v, tail_p = tail(lat)
    wall = res["traced"]["timed_s"] if a.trace else res["timed_s"]
    completed = sum(1 for r in timed if r["error"] is None)
    e2e = {
        "setup_s": (res["setup_s"], "from harness launch to the first timed statement"),
        "latency_p50_ms": (statistics.median(lat), f"n={n}"),
        "latency_tail_ms": (tail_v, f"p{tail_p:.1f}, n={n}"),
        "throughput_qps": (completed / wall, f"{completed} statements / {wall:.2f} s"),
    }
    # failed_frac is 0 on a correct build, and peak RSS follows the JVM's
    # heap sizing more than the workload, so neither is a bounded metric;
    # both are printed here, and the traced run reports jvm.rss_peak_mb
    print(f"workload={a.workload} seed={a.seed} trace={a.trace} "
          f"attempted={attempted} failed={failed} "
          f"failed_frac={failed / max(attempted, 1):.4f} ratio "
          f"peak_rss_mb={res['peak_rss_mb']:.1f} MB")
    for name, (v, note) in e2e.items():
        print(f"{name} {v:.6g} {END_TO_END[name]} ({note})")
    if a.trace:
        layers = res["layers"]
        for name in sorted(layers):
            print(f"{name} {layers[name]:.6g} {layer_unit(name)} (n={n})")
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, (v, _) in e2e.items()}
    print(json.dumps({"correct": not bad, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
