#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <sync|corpus_prep>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the benchmark JVM
from source on first use (sbt, offline), generates the workload's inputs
from the seed, runs that JVM, checks the program's outputs, and prints one
JSON object as the last line of stdout. Everything it
writes goes under `.perfbench/` in the checkout. See README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

CORES = 4
JVM_TIMEOUT_S = 165

# Input sizes. Both workloads run the same session settings; only the
# inputs differ. The stream's history (its first batch, drained during
# set-up) and the backlog (its second batch, the timed catch-up) share
# one catalog and checkpoint. maintain_every = 2 ends the catch-up batch
# with a maintenance pass; live drains keep the program's default cadence
# (every 16 batches), which no live window reaches.
N_ROOMS, N_USERS = 48, 160
SYNC = dict(history_files=2, history_per_file=1500, backlog_files=4, per_file=6000,
            max_files_per_trigger=4, maintain_every=2, live_maintain_every=16,
            live_per_file=300)
# a live step takes well over 4 s, so this many files outlast any window
LIVE_STEP_FLOOR_S = 4
REPLAY_LINES = 1000
CORPUS_DOCS = 2000


def declared_metrics(kind):
    """(name, unit) of the metrics BENCHMARK.json declares under `kind`."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def layer_map():
    """layers.json: per-layer metric name -> its layer, workload and the
    end-to-end metric it should move. It must cover exactly the per-layer
    metrics BENCHMARK.json declares."""
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)
    declared = {n for n, _ in declared_metrics("per_layer")}
    if set(layers) != declared:
        raise SystemExit("perfbench: layers.json and BENCHMARK.json per_layer differ: "
                         f"{sorted(set(layers) ^ declared)}")
    return layers


def sources_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")):
        for d, _, fs in sorted(os.walk(base)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program's sources plus the benchmark; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no program sources under src/main/scala; run from a checkout root")
    stamp = sources_stamp()
    bdir = os.path.join(STATE, "build")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                       f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}")
    log = os.path.join(bdir, "sbt.log")
    with open(log, "w") as lf:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0 or not os.path.exists(cp_file):
        raise SystemExit(f"perfbench: build failed, see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def make_inputs(workload, seed, seconds, work):
    """Generate the workload's inputs; returns (descriptor, input files)."""
    crypto = {"passphrase": gen.PASSPHRASE, "salt_b64": gen.SALT_B64, "iterations": gen.ITERATIONS}
    desc = {"cores": CORES, "crypto": crypto, "n_rooms": N_ROOMS, "n_users": N_USERS}
    inp = os.path.join(work, "inputs")
    if workload == "corpus_prep":
        docs = os.path.join(inp, "docs")
        gen.documents(seed, CORPUS_DOCS, os.path.join(docs, "documents.parquet"))
        desc.update(docs_dir=docs, n_docs=CORPUS_DOCS)
        return desc, [os.path.join(docs, "documents.parquet")]
    cfg = SYNC
    stream = gen.EventStream(seed, N_ROOMS, N_USERS)
    src = os.path.join(inp, "src")
    staged = os.path.join(inp, "staged")
    history = gen.write_event_files(stream, src, "history", cfg["history_files"],
                                    cfg["history_per_file"])
    backlog = gen.write_event_files(stream, staged, "backlog", cfg["backlog_files"], cfg["per_file"])
    live = gen.write_event_files(stream, staged, "live",
                                 int(seconds // LIVE_STEP_FLOOR_S) + 2, cfg["live_per_file"])
    # the replay check's partial batch: non-state lines of the first
    # backlog file, which shared its micro-batch with the other backlog files
    part = os.path.join(staged, "replay-messages.jsonl")
    gen.without_state(backlog[0]["path"], part, REPLAY_LINES)
    replay = {"path": part, "bad": len(checks.expected_from_inputs([part])[1])}
    desc.update(src_dir=src, history=history, backlog=backlog, live=live,
                replay_no_state=replay, max_files_per_trigger=cfg["max_files_per_trigger"],
                maintain_every=cfg["maintain_every"],
                live_maintain_every=cfg["live_maintain_every"])
    return desc, [f["path"] for f in history + backlog + live]


def run_jvm(cp, args, work, desc):
    inputs_json = os.path.join(work, "inputs.json")
    with open(inputs_json, "w") as f:
        json.dump(desc, f)
    out = os.path.join(work, "result.json")
    jwork = os.path.join(work, "jvm")
    os.makedirs(jwork, exist_ok=True)
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Dspark.local.dir={jwork}/spark-local",
            f"-Dspark.sql.warehouse.dir={jwork}/warehouse",
            f"-Djava.io.tmpdir={jwork}/tmp",
            f"-Dderby.system.home={jwork}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--work", jwork, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--seed", str(args.seed), "--inputs", inputs_json,
            "--out", out, "--run_id", f"{args.workload}-{args.seed}-{os.getpid()}"]
    os.makedirs(f"{jwork}/tmp", exist_ok=True)
    env = dict(os.environ)
    for k in ("GRAFT_CDC_STORE_DIR", "GRAFT_ANN_INDEX_DIR", "GRAFT_STREAM_STORE_DIR"):
        env[k] = os.path.join(jwork, "stores")
    log = os.path.join(work, "jvm.log")
    t_launch = time.time()
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=jwork, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
        except BaseException:  # interrupted or terminated: never leave the JVM behind
            proc.kill()
            proc.wait()
            raise
    if rc != 0 or not os.path.exists(out):
        tail = open(log, errors="replace").read()[-3000:]
        raise SystemExit(f"perfbench: benchmark JVM failed (exit {rc}):\n{tail}")
    with open(out) as f:
        res = json.load(f)
    res["launch_to_setup_end_s"] = res["setup_end_epoch_ms"] / 1000.0 - t_launch
    return res


def finite(v):
    return float(v) if v is not None and math.isfinite(float(v)) else 0.0


def quantile_tail(xs):
    """Highest of p50..p99 that keeps >= 10 samples beyond it, as (p, value)."""
    xs = sorted(xs)
    best = None
    for p in (50, 75, 90, 95, 99):
        beyond = len(xs) - int(len(xs) * p / 100.0)
        if beyond >= 10:
            best = (p, xs[min(len(xs) - 1, int(len(xs) * p / 100.0))])
    return best


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["sync", "corpus_prep"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still unwinds: the JVM is killed and the work dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    layers = layer_map()
    cp = build()
    t_start = time.time()
    work = os.path.join(STATE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        desc, files = make_inputs(args.workload, args.seed, args.seconds, work)
        gen_s = time.time() - t0
        fp = gen.fingerprint(files)
        print(f"inputs: workload={args.workload} seed={args.seed} files={len(files)} fingerprint={fp}")
        res = run_jvm(cp, args, work, desc)

        failures = []
        t_checks = time.time()
        if args.workload == "corpus_prep":
            # the expected hash depends on the corpus and on the oracle SQL
            sql = hashlib.sha256(res["oracle_sql"].encode()).hexdigest()[:16]
            checks.check_corpus(res, desc["docs_dir"],
                                os.path.join(STATE, "cache", f"corpus-{fp}-{sql}.json"), failures)
        else:
            con = checks.check_sync(res, failures)
            checks.check_api(con, res, failures)
        checks_s = time.time() - t_checks
        if args.trace:
            owned = [n for n, e in layers.items() if e["workload"] in (args.workload, "both")]
            missing = [n for n in owned if n not in res["per_layer"]]
            if missing:
                failures.append(f"the trace run emitted no value for {missing}")
        for f in failures:
            print(f"CHECK FAILED: {f}")
        if args.trace:
            trace_dir = os.path.join(STATE, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"spans": res["spans"], "per_layer": res["per_layer"]}, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    setup_s = gen_s + res["launch_to_setup_end_s"]
    report = {"setup_s": (setup_s, "s"), "peak_heap_mb": (res["peak_heap_mb"], "MB")}
    if args.workload == "corpus_prep":
        op = res["op_s"]
        items_per_s = res["items_per_op"] / statistics.median(op)
        report["corpus_docs_per_s"] = (items_per_s, "1/s")
        report["corpus_run_p50_s"] = (statistics.median(op), "s")
    else:
        op = res["step_s"]
        items_per_s = res["catchup_events"] / res["catchup_s"]
        report["catchup_events_per_s"] = (items_per_s, "1/s")
        report["catchup_stored_bytes_per_event"] = (
            res["catchup_stored_bytes"] / (res["history_events"] + res["catchup_events"]), "B")
        report["catchup_batches"] = (res["catchup_batches"], "count")
        # a live commit is one stream start plus one small batch, nearly all
        # fixed cost; as many of them as catch-up ran batches bound the
        # drain's fixed share from above
        report["catchup_fixed_share_max"] = (
            res["catchup_batches"] * statistics.median(res["commit_s"]) / res["catchup_s"], "ratio")
        report["live_step_p50_s"] = (statistics.median(op), "s")
        report["live_commit_p50_s"] = (statistics.median(res["commit_s"]), "s")
        report["stored_bytes_per_event"] = (res["stored_bytes"] / res["events_committed"], "B")
        api = res["api_ms"]
        report["api_p50_ms"] = (statistics.median(api), "ms")
        tail = quantile_tail(api)
        if tail and tail[0] > 50:
            report[f"api_p{tail[0]}_ms"] = (tail[1], "ms")
        report["api_calls"] = (len(api), "count")
    report["op_failure_ratio"] = (res["failed"] / res["attempted"], "ratio")
    report["op_samples"] = (len(op), "count")
    for k, (v, u) in report.items():
        print(f"metric {args.workload} {k} {v:.6g} {u}")
    print("session settings: " + json.dumps(res["settings"], sort_keys=True))
    print("op samples (s): " + " ".join(f"{x:.3f}" for x in op))
    if "commit_s" in res:
        print("commit samples (s): " + " ".join(f"{x:.3f}" for x in res["commit_s"]))
    print("phases (s): " + " ".join(f"{k}={res[k]:.2f}" for k in ("setup_jvm_s", "catchup_s", "replay_s", "answers_s")
                                    if k in res)
          + f" checks={checks_s:.2f} total={time.time() - t_start:.1f}")

    if args.trace:
        layer = res["per_layer"]
        # a layer the workload never touched reads 0
        metrics = {n: {"value": finite(layer.get(n)), "unit": u}
                   for n, u in declared_metrics("per_layer")}
    else:
        vals = {"setup_s": setup_s, "items_per_s": items_per_s,
                "op_p50_s": statistics.median(op)}
        metrics = {n: {"value": vals[n], "unit": u} for n, u in declared_metrics("end_to_end")}
    print(json.dumps({"correct": not failures, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
