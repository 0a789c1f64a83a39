#!/usr/bin/env python3
"""Benchmark of the audio-to-dataset CLI and the costliest query families.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Builds ``src/main`` and the harness with the Scala compiler that ships in
the Spark distribution (``$SPARK_HOME/jars``), stages the seeded inputs,
runs one JVM for the workload, checks every output and prints each metric
with its unit. The last line of standard output is the JSON result; the exit
code is non-zero when any output is wrong. See ``perfbench/README.md``.
"""
import argparse
import glob
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
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

FILES_PER_SHARD = 40
HEAP = "2g"
# the harness JVM is killed after this many seconds plus three times --seconds
JVM_TIMEOUT_S = 120
# the traced layer sum may differ from the untraced wall_s by this share
RECONCILE_TOLERANCE = 0.25
# a layer (cut minus the cut before it) may be negative by this share of write_s
LAYER_NOISE = 0.05

# warm: untimed warm-up passes before the timed ones. Under C2 the passes
# keep getting faster for longer than a run can afford, so this is what fits:
# ingest_small_duckdb drops by ~15 % around its fourth pass, and query_hot's
# cold pass alone takes ~25 s. It counts passes, not seconds: the JIT
# compiles a method after a number of calls, so a pass count puts the timed
# passes at the same point of its warm-up on a fast or a slow machine, where
# a time budget would stop a slow run's warm-up early and add to its slowness.
WORKLOADS = {
    "ingest_large_parquet": dict(kind="large", args=["--format", "parquet"], warm=4),
    "ingest_small_duckdb": dict(kind="small", args=["--format", "duckdb", "--check-mime-type"],
                                warm=4),
    "query_hot": dict(warm=1),
}
# A subset of the costliest registry entries: one run (set-up, a cold pass,
# a timed pass) must fit the time budget of a 4-core box. It keeps PageRank
# and connected components (the fixpoint loop), BPE training, tf-idf,
# percentiles, the stateful availableNow stream and two TPC-H controls.
ITERATIVE = ["pagerank_nations", "dedup_minhash_cc", "bpe_train_merges"]
STREAM = ["events_stateful_stream"]
CONTROL = ["q9_nation_profit", "q21_waiting_suppliers"]
ENTRIES = ITERATIVE + ["tfidf_pair_sim", "agg_percentiles_dist"] + STREAM + CONTROL
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
LISTENERS = {"spark.extraListeners": "perfbench.EngineListener",
             "spark.sql.queryExecutionListeners": "perfbench.PlanListener",
             "spark.sql.streaming.streamingQueryListeners": "perfbench.StreamListener"}
MIB = 1024.0 * 1024.0


class BenchError(Exception):
    pass


# ---- build ----------------------------------------------------------------

def tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode() + b"\n")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BenchError("Spark distribution with the Scala compiler not found (set SPARK_HOME)")
    return jars


def duckdb_jar():
    found = glob.glob(os.path.expanduser("~/.cache/coursier/**/duckdb_jdbc-*.jar"), recursive=True)
    if not found:
        raise BenchError("duckdb_jdbc jar not found in the coursier cache")
    return sorted(found)[-1]


def scalac(jars, classpath, out, sources):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx1536m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + (["-classpath", classpath] if classpath else [])
    res = subprocess.run(cmd + sources, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BenchError("compile failed:\n" + res.stdout[-4000:])
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build(root, build_dir, jars):
    """Compile src/main and the harness; reuse the classes while sources match."""
    src = glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True)
    if not src:
        raise BenchError("no src/main/scala sources: run from the repository root")
    harness = glob.glob(os.path.join(HERE, "harness", "*.scala"))
    classes, hclasses = os.path.join(build_dir, "classes"), os.path.join(build_dir, "harness")
    stamp = os.path.join(build_dir, "build.stamp")
    key = tree_hash(src) + "-" + tree_hash(harness)
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classes, hclasses
    if os.path.exists(stamp):
        os.remove(stamp)
    scalac(jars, None, classes, src)
    scalac(jars, classes, hclasses, harness)
    with open(stamp, "w") as f:
        f.write(key)
    return classes, hclasses


# ---- ambient witness -------------------------------------------------------

def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return {"total": sum(v[:8]), "iowait": v[4], "steal": v[7] if len(v) > 7 else 0}


def disk_probe(tmp_dir):
    path = os.path.join(tmp_dir, "disk_probe")
    block = os.urandom(1 << 20)
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        for _ in range(16):
            f.write(block)
        f.flush()
        os.fsync(f.fileno())
    dt = time.perf_counter() - t0
    os.remove(path)
    return 16.0 / dt


def witness(root, before, after, probe_mb_s):
    total = max(1, after["total"] - before["total"])
    head = "unknown"
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            head = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                                  stderr=subprocess.DEVNULL, text=True,
                                  timeout=10).stdout.strip() or head
        except (OSError, subprocess.SubprocessError):
            pass
    return {"steal_ratio": (after["steal"] - before["steal"]) / total,
            "iowait_ratio": (after["iowait"] - before["iowait"]) / total,
            "disk_write_fsync_mb_s": probe_mb_s, "nproc": len(os.sched_getaffinity(0)),
            "loadavg": os.getloadavg(), "git_head": head,
            "src_main_hash": tree_hash(p for p in glob.glob(os.path.join(root, "src/main/**/*"),
                                                            recursive=True) if os.path.isfile(p))}


# ---- metrics ---------------------------------------------------------------

def med(xs):
    return statistics.median(xs) if xs else 0.0


def top_percentile(xs):
    """(label, value) of the highest percentile with at least ten samples
    beyond it, or None when the sample is too small for any."""
    xs = sorted(xs)
    for p in (99, 90, 75, 50):
        if len(xs) * (100 - p) / 100 >= 10:
            return f"p{p}", xs[math.ceil(p / 100 * len(xs)) - 1]
    return None


def end_to_end(rec, ctx):
    wall = med(rec["wall_s"])
    return {
        "setup_s": (rec["setup_s"], "s"),
        "wall_s": (wall, "s"),
        "files_per_s": (ctx["items"] / wall, "1/s"),
        "input_mb_per_s": (ctx["input_bytes"] / MIB / wall, "MiB/s"),
        "out_bytes_per_in_byte": (ctx["output_bytes"] / ctx["input_bytes"], "ratio"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MiB"),
        "ok_ratio": ((ctx["attempted"] - ctx["failed"]) / ctx["attempted"], "ratio"),
    }


def per_layer(rec, ctx):
    m = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    layers = rec.get("layers", [])
    eng = {}
    if layers:  # ingest: cumulative cuts, then the CLI write pass
        def lm(k):
            return med([x[k] for x in layers])
        first = layers[0]
        scan, parse, join = lm("cut_scan_s"), lm("cut_parse_s"), lm("cut_join_s")
        shard, write = lm("cut_shard_s"), lm("write_s")
        put("sources.scan_s", scan, "s")
        put("functions.wav_parse_s", parse - scan, "s")
        put("sources.join_s", join - parse, "s")
        put("operators.shard_rank_s", shard - join, "s")
        put("sinks.write_self_s", write - shard, "s")
        put("sources.meta_load_s", lm("meta_load_s"), "s")
        put("sinks.write_s", write, "s")
        for k in ("files_listed", "files_kept", "meta_hits_l1", "meta_hits_l2", "meta_hits_l3"):
            put(f"sources.{k}", first[k], "count")
        put("sources.keep_ratio", first["files_kept"] / max(1, first["files_listed"]), "ratio")
        hits = first["meta_hits_l1"] + first["meta_hits_l2"] + first["meta_hits_l3"]
        put("sources.meta_hit_ratio", hits / max(1, first["files_kept"]), "ratio")
        put("functions.parse_failures", first["parse_failures"], "count")
        put("operators.shards", ctx["shards"], "count")
        engines = [x["engine"] for x in layers]
        eng = {k: med([e[k] for e in engines]) for k in engines[0] if k != "phases"}
        put("sinks.shuffle_write_bytes", eng["shuffle_write_bytes"], "bytes")
        put("sinks.spill_bytes", eng["spill_bytes"], "bytes")
        put("sinks.output_bytes", ctx["output_bytes"], "bytes")
        # the layer times plus the sink self time sum to write_s by construction
        put("engine.trace_overhead_ratio", write / med(rec["wall_s"]) - 1.0, "ratio")
    if "traced_entries" in rec:  # query_hot
        passes = rec["traced_passes"]
        te = rec["traced_entries"]
        for e in ENTRIES:
            put(f"queries.{e}_s", med(te[e]), "s")
        for fam, names in (("iterative", ITERATIVE), ("stream", STREAM), ("control", CONTROL)):
            put(f"queries.{fam}_s", sum(med(te[e]) for e in names), "s")
        for e in ITERATIVE:
            put(f"queries.{e}.jobs", rec["engine"][e]["jobs"] / passes, "count")
        phases = {}
        for e in STREAM:
            for k, v in rec["engine"][e]["phases"].items():
                phases[k] = phases.get(k, 0.0) + v / passes
        for k, name in (("addBatch", "add_batch_s"), ("queryPlanning", "query_planning_s"),
                        ("walCommit", "wal_commit_s"), ("commitOffsets", "commit_offsets_s")):
            put(f"streaming.{name}", phases.get(k, 0.0), "s")
        put("streaming.batches", sum(rec["engine"][e]["batches"] for e in STREAM) / passes, "count")
        per = rec["engine"].values()
        eng = {k: sum(e[k] for e in per) / passes for k in next(iter(per)) if k != "phases"}
        put("engine.trace_overhead_ratio", med(rec["traced_wall_s"]) / med(rec["wall_s"]) - 1.0,
            "ratio")
    for k in ("jobs", "stages", "tasks"):
        put(f"engine.{k}", eng.get(k, 0), "count")
    for k in ("plan_s", "executor_run_s", "executor_cpu_s", "gc_s", "sched_gap_s"):
        put(f"engine.{k}", eng.get(k, 0.0), "s")
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "input_bytes"):
        put(f"engine.{k}", eng.get(k, 0), "bytes")
    put("engine.error_ratio",
        (ctx["failed"] + len(ctx["breaches"])) / (ctx["attempted"] + RECONCILE_CHECKS), "ratio")
    return m


RECONCILE_CHECKS = 2


def reconcile(rec):
    """The traced run's two reconciliation checks; returns the breaches.

    1. Every layer is non-negative within noise: each ingest cut takes at
       least as long as the cut before it, and write_s at least as long as
       the last cut, up to LAYER_NOISE of write_s (query_hot: every entry
       took time).
    2. The traced layer sum (ingest: the cuts plus the sink self time, which
       is the traced CLI pass; query_hot: the per-entry medians) is within
       RECONCILE_TOLERANCE of the untraced wall_s."""
    errors = []
    untraced = med(rec["wall_s"])
    if rec.get("layers"):
        names = ["cut_scan_s", "cut_parse_s", "cut_join_s", "cut_shard_s", "write_s"]
        cuts = [med([x[k] for x in rec["layers"]]) for k in names]
        total = cuts[-1]
        for prev, cur, name in zip([0.0] + cuts, cuts, names):
            if cur - prev < -LAYER_NOISE * total:
                errors.append(f"reconcile: {name} {cur:.3f}s is below the cut before it "
                              f"({prev:.3f}s) by more than {LAYER_NOISE:.0%} of write_s")
    else:
        te = rec["traced_entries"]
        errors += [f"reconcile: {e} has no traced time" for e in ENTRIES if med(te[e]) <= 0]
        total = sum(med(te[e]) for e in ENTRIES)
    if abs(total / untraced - 1.0) > RECONCILE_TOLERANCE:
        errors.append(f"reconcile: traced layer sum {total:.3f}s differs from the untraced "
                      f"wall_s {untraced:.3f}s by more than {RECONCILE_TOLERANCE:.0%}")
    return errors


def declared(trace):
    """Every metric name BENCHMARK.json declares for a trace mode."""
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {x["name"]: x["unit"] for x in spec["per_layer" if trace else "end_to_end"]}


def fill(metrics, trace):
    """All declared metrics, with 0 for the ones a workload has no layer for."""
    names = declared(trace)
    unknown = set(metrics) - set(names)
    if unknown:
        raise BenchError(f"undeclared metrics: {sorted(unknown)}")
    return {n: {"value": float(metrics[n][0]) if n in metrics else 0.0, "unit": u}
            for n, u in names.items()}


# ---- one workload ----------------------------------------------------------

def run_jvm(classpath, cfg, cfg_path, trace, tmp_dir):
    timeout = JVM_TIMEOUT_S + 3 * cfg["seconds"]
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout. The heap is
    # fixed and pre-touched, so peak_rss_mb does not depend on how much of it
    # the collector happened to cycle through.
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={tmp_dir}", f"-Dspark.local.dir={tmp_dir}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    if trace:
        cmd += [f"-D{k}={v}" for k, v in LISTENERS.items()]
    cmd += ["-cp", classpath, "perfbench.Harness", cfg_path]
    log_path = cfg_path + ".log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError(f"harness JVM timed out after {timeout:.0f}s (log: {log_path})")
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"harness JVM exited with {code}:\n{tail}")
    with open(cfg["record"]) as f:
        return json.load(f)


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def run_workload(root, workload, seed, seconds, trace):
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    jars = spark_jars()
    classes, hclasses = build(root, build_dir, jars)
    t_start = time.perf_counter()
    cores = str(len(os.sched_getaffinity(0)))
    run_dir = os.path.join(build_dir, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_dir)
    inputs = os.path.join(build_dir, "inputs")
    cfg = {"workload": workload, "seconds": seconds, "trace": bool(trace), "cores": cores,
           "record": os.path.join(run_dir, "record.json")}
    classpath = os.pathsep.join([classes, hclasses, os.path.join(jars, "*")])
    spec = WORKLOADS[workload]
    cfg["warm_passes"] = spec["warm"]
    if workload == "query_hot":
        gen.evict(inputs, "tables", keep=3)
        tables = gen.tables(seed, inputs)
        cfg.update(tables=tables, entries=ENTRIES, results=os.path.join(run_dir, "results"))
    else:
        gen.evict(inputs, spec["kind"], keep=2)
        corpus = gen.corpus(spec["kind"], seed, inputs)
        classpath = os.pathsep.join([classpath, duckdb_jar()])
        cfg.update(input=os.path.join(corpus, "in"), meta=os.path.join(corpus, "meta.jsonl"),
                   out=os.path.join(run_dir, "out"), files_per_shard=FILES_PER_SHARD,
                   cli_args=spec["args"] + ["--num-threads", cores,
                                            "--files-per-db", str(FILES_PER_SHARD)])

    probe = disk_probe(tmp_dir)
    # a freshly staged corpus is still being written back; flush it so the
    # timed passes do not compete with that I/O
    os.sync()
    before = cpu_times()
    t_jvm = time.perf_counter()
    rec = run_jvm(classpath, cfg, os.path.join(run_dir, "config.json"), trace, tmp_dir)
    t_check = time.perf_counter()
    after = cpu_times()

    errors = []
    if workload == "query_hot":
        errors += [f"{e}: {m}" for e, m in rec["failures"].items()]
        errors += check.oracle(root, cfg["results"], cfg["tables"], rec["oracle_sql"],
                               os.path.join(build_dir, "oracle", gen.tables_key() + ".json"))
        attempted = rec["passes"] * len(ENTRIES)
        failed = len({e.split(":")[0] for e in errors})
        ctx = dict(items=len(ENTRIES), input_bytes=sum(
            os.path.getsize(os.path.join(tables, f"{t}.parquet")) for t in TABLES),
            output_bytes=dir_bytes(cfg["results"]))
    else:
        with open(os.path.join(corpus, "manifest.json")) as f:
            manifest = json.load(f)
        fmt = spec["args"][1]
        failed = 0
        # one thread per core: the reads and hashes release the GIL
        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            checked = pool.map(lambda out: check.ingest(out, manifest, fmt, FILES_PER_SHARD),
                               rec["outputs"])
            for out, errs in zip(rec["outputs"], checked):
                errors += [f"{os.path.basename(out)}: {e}" for e in errs]
                failed += bool(errs)
        for layer in rec.get("layers", [])[:1]:  # the layer counts against the manifest
            for k, want in [("files_kept", manifest["expected_kept"]),
                            ("parse_failures", manifest["expected_parse_failures"])] + \
                    [(f"meta_hits_{lv}", n) for lv, n in manifest["expected_meta_hits"].items()]:
                if layer[k] != want:
                    errors.append(f"{k}: {layer[k]} != expected {want}")
                    failed += 1
        attempted = len(rec["outputs"])
        last = rec["outputs"][-1]
        ctx = dict(items=manifest["expected_kept"], input_bytes=manifest["audio_bytes"],
                   output_bytes=dir_bytes(last), shards=len(os.listdir(last)))
    ctx.update(attempted=attempted, failed=min(failed, attempted),
               breaches=reconcile(rec) if trace else [])

    phases = {"stage_s": t_jvm - t_start, "jvm_s": t_check - t_jvm,
              "check_s": time.perf_counter() - t_check}
    metrics = per_layer(rec, ctx) if trace else end_to_end(rec, ctx)
    wit = witness(root, before, after, probe)
    tail = top_percentile(rec["wall_s"])
    record = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "metrics": {k: v[0] for k, v in metrics.items()}, "wall_samples": rec["wall_s"],
              "wall_tail": tail, "errors": errors, "reconcile": ctx["breaches"],
              "witness": wit, "phases": phases,
              "harness": rec}
    rec_dir = os.path.join(build_dir, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{time.strftime('%Y%m%dT%H%M%S')}-{workload}-s{seed}-t{trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1, default=str)
    if errors:
        print(f"[{workload}] outputs kept for inspection in {run_dir}")
    else:
        shutil.rmtree(run_dir, ignore_errors=True)

    for e in errors[:20]:
        print(f"[{workload}] ERROR {e}")
    print(f"[{workload}] wall_s n={len(rec['wall_s'])} median={med(rec['wall_s']):.4f} " +
          (f"{tail[0]}={tail[1]:.4f}" if tail else "(too few samples for a tail percentile)"))
    print(f"[{workload}] witness " + json.dumps(wit))
    print(f"[{workload}] phases " + json.dumps(phases))
    for e in ctx["breaches"]:  # counted in engine.error_ratio, not in "failed"
        print(f"[{workload}] ERROR {e}")
    for name, (value, unit) in sorted(metrics.items()):
        print(f"[{workload}] {name} = {value:.6g} {unit}")
    return {"correct": not errors, "attempted": attempted, "failed": ctx["failed"],
            "metrics": fill(metrics, trace)}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    names = sorted(WORKLOADS) if a.workload == "all" else [a.workload]
    try:
        results = [run_workload(root, w, a.seed, a.seconds, a.trace) for w in names]
    except BenchError as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 2
    if a.workload == "all":
        result = {"correct": all(r["correct"] for r in results),
                  "attempted": sum(r["attempted"] for r in results),
                  "failed": sum(r["failed"] for r in results),
                  "metrics": {f"{w}.{k}": v for w, r in zip(names, results)
                              for k, v in r["metrics"].items()}}
    else:
        result = results[0]
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
