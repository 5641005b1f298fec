#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {telemetry,ingest} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Builds the program and the benchmark from
source on first use (sbt, offline; classpath cached under .bench_build/),
generates the workload's inputs from the seed, runs the workload in one
JVM, checks its outputs and prints, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics. The lines before
it print every metric by name with its unit.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

# Spark runs local[N], N = min(MAX_CORES, cores) - 1: one core stays free
# for the driver thread, the JIT compilers and GC
MAX_CORES = 4
# fixed heap and young generation, touched at start: the part of the
# heap a run touches depends on when young collections promote, which
# made peak_rss_mb jump by ~300 MB between runs of one seed; touched
# up front, peak_rss_mb is the 2 GB heap plus off-heap memory
JVM_OPTS = ["-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-XX:+AlwaysPreTouch",
            "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:-UsePerfData"]
# the JVM is stopped after --seconds plus this margin: set-up (~30 s), the
# timed work a run always does whatever --seconds is (9 ingest batches,
# ~35 s) and the checks, with room for a host twice as slow
JVM_MARGIN_S = 150

# per-layer metrics that are counts: reported from one fixed unit of work
# (the first traced pass; the traced batches among the first 9), so two
# runs on one seed can be compared exactly
COUNTS = {"Tables.resolve_jobs", "query.construct_jobs", "catalyst.exchanges",
          "catalyst.broadcasts", "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
          "scheduler.task_failures", "blocks.rdd_blocks", "ingest.probe_jobs",
          "ingest.admit_jobs"}
# largest self time a pass, query or batch span may have beyond what its
# children cover: the glue between clock reads takes microseconds, and a
# young-generation GC pause landing in it a few milliseconds
ACCOUNTING_TOLERANCE_MS = 5.0


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def fail(msg: str, code: int = 2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_stamp() -> str:
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    files += glob.glob(os.path.join(ROOT, "src", "main", "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath() -> str:
    """Compile program + benchmark if their sources changed; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("program sources not found next to the benchmark (expected ../build.sbt and ../src)")
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building program + benchmark (sbt) ...")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
        log(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"perfbench: built in {time.time() - t0:.0f} s")
    return cp


# ------------------------------------------------------------------ inputs

def generate(workload: str, cfg: dict, seed: int, out: str) -> dict:
    import gen
    if workload == "telemetry":
        return gen.telemetry(out, seed, cfg["sf"])
    return gen.ingest(out, seed, cfg["corpus_docs"], cfg["corpus_vectors"], cfg["batches"])


def inputs(workload: str, cfg: dict, seed: int, run_dir: str):
    """Generate three times: the seed twice, then seed + 1. The two
    same-seed trees must be byte-identical and the other must differ.
    Returns (input dir, info, median generation seconds, failures, digest)."""
    import gen
    times, digests, dirs, infos = [], [], [], []
    for i, s in enumerate((seed, seed, seed + 1)):
        d = os.path.join(run_dir, f"in{i}")
        t0 = time.perf_counter()
        infos.append(generate(workload, cfg, s, d))
        times.append(time.perf_counter() - t0)
        digests.append(gen.tree_digest(d))
        dirs.append(d)
    fails = []
    if digests[0] != digests[1]:
        fails.append("seed discipline: the same seed generated different input bytes")
    if digests[2] == digests[0]:
        fails.append("seed discipline: another seed generated identical input bytes")
    for d in dirs[1:]:
        shutil.rmtree(d)
    return dirs[0], infos[0], statistics.median(times), fails, digests[0]


# ------------------------------------------------------------------ metrics

def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(xs):
    """(value, percentile) of the highest percentile with >= 10 samples
    beyond it; 0 when there are fewer than 11 samples."""
    s = sorted(xs)
    if len(s) < 11:
        return 0.0, 0.0
    k = len(s) - 11
    return s[k], 100.0 * (k + 1) / len(s)


def end_to_end(workload: str, res: dict, gen_s: float) -> tuple:
    units = [u for u in res["units"] if not u["traced"]]
    walls = [u["wall_s"] for u in units]
    ops = {}
    for u in units:
        for k, v in u["ops"].items():
            ops.setdefault(k, []).append(v)
    if workload == "ingest":
        ops["compact"] = res["ingest"]["compact_s"]
    per_op = [statistics.median(v) for v in ops.values() if v]
    m = {
        "setup_s": (gen_s + res["jvm_setup_s"], "s"),
        "pass_p50_s": (statistics.median(walls), "s"),
        "query_geomean_s": (geomean(per_op), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    extra = {"passes": (len(walls), "count")}
    if workload == "ingest":
        ing = res["ingest"]
        t, pct = tail(walls)
        extra = {"batches": (len(walls), "count"),
                 "batch_p50_s": (statistics.median(walls), "s"),
                 "batch_tail_s": (t, f"s@p{pct:.0f}"),
                 "index_bytes_per_doc": (ing["index_bytes"] / ing["indexed_docs"], "bytes"),
                 "compactions": (ing["compactions"], "count"),
                 "compaction_share": (sum(ing["compact_s"]) / sum(walls), "ratio")}
    return m, extra


def admitted_input_bytes(res: dict, data: str) -> int:
    """Text bytes plus vector bytes of every doc the gate admitted in the
    timed batches (verdict `train`)."""
    import pyarrow.parquet as pq
    total = 0
    for b, rows in res["verdicts"].items():
        if b == "b0000":
            continue
        ids = {d for d, v, _ in rows if v == "train"}
        docs = pq.read_table(os.path.join(data, "batches", b, "docs.parquet")).to_pylist()
        emb = pq.read_table(os.path.join(data, "batches", b, "emb.parquet")).to_pylist()
        total += sum(len(r["text"].encode()) for r in docs if r["doc_id"] in ids)
        total += sum(8 * len(r["v"]) for r in emb if r["vec_id"] in ids)
    return total


def per_layer(workload: str, res: dict, declared: list, data: str) -> tuple:
    """(metrics, failures): every declared per-layer metric (0 where the
    workload does not exercise that layer) and the trace checks."""
    traced = [u for u in res["units"] if u["traced"]]
    plain = [u for u in res["units"] if not u["traced"]]
    counted = [u for u in traced if u["counted"]]
    checks = {k: max(u["layers"].pop(k) for u in traced)
              for k in ("check.accounting_max_ms", "check.unnested_jobs")}
    out = {k: 0.0 for k in declared}
    for k in sorted({k for u in traced for k in u["layers"]}):
        if k in COUNTS or k.endswith(".jobs"):
            out[k] = sum(u["layers"][k] for u in counted)
        else:
            out[k] = statistics.median(u["layers"][k] for u in traced)
    out.update(res.get("kernels", {}))
    fails = []
    acc = checks["check.accounting_max_ms"]
    print(f"# layer accounting: largest span self time {acc:.3f} ms "
          f"(tolerance {ACCOUNTING_TOLERANCE_MS} ms)")
    if acc > ACCOUNTING_TOLERANCE_MS:
        fails.append(f"layer accounting: child spans miss {acc:.3f} ms of their parent span")
    bad = checks["check.unnested_jobs"]
    if bad:
        fails.append(f"layer accounting: {bad:.0f} job(s) outside their span")
    if workload == "ingest":
        ing = res["ingest"]
        out["ingest.probe_s"] = statistics.median(u["ops"]["probe"] for u in traced)
        out["ingest.admit_s"] = statistics.median(u["ops"]["admit"] for u in traced)
        out["ingest.compact_s"] = statistics.median(ing["compact_s"]) if ing["compact_s"] else 0.0
        out["ingest.compactions"] = ing["count_compactions"]
        out["ingest.files_per_bucket_max"] = ing["files_per_bucket_max"]
        out["ingest.write_amp"] = ing["written_bytes"] / max(1, admitted_input_bytes(res, data))
        out["ingest.admitted_frac"] = ing["admitted_docs"] / max(1, ing["attempted_docs"])
        out["ingest.batch_tail_s"] = tail([u["wall_s"] for u in plain])[0]
        out["ingest.index_bytes_per_doc"] = ing["index_bytes"] / ing["indexed_docs"]
    # the first timed unit is left out: it is untraced and still the slowest
    later = res["units"][1:]
    wall = lambda traced: statistics.median(
        u["wall_s"] for u in later if u["traced"] == traced)
    out["trace.overhead"] = wall(True) / wall(False)
    unknown = set(out) - set(declared)
    if unknown:
        fails.append(f"undeclared per-layer metrics {sorted(unknown)}")
    return {k: v for k, v in out.items() if k in declared}, fails


# ------------------------------------------------------------------ main

def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=None)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep inputs, outputs and spans")
    args = ap.parse_args()
    with open(os.path.join(HERE, "config.json")) as f:
        conf = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if args.workload not in conf["workloads"]:
        fail(f"unknown workload {args.workload}; choose from {sorted(conf['workloads'])}")
    cfg = conf["workloads"][args.workload]
    seed = conf["default_seed"] if args.seed is None else args.seed
    cp = classpath()
    import check

    run_dir = os.path.join(BUILD, "run", f"{args.workload}-{seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data, info, gen_s, failures, in_digest = inputs(args.workload, cfg, seed, run_dir)
        cores = max(1, min(MAX_CORES, os.cpu_count() or 1) - 1)
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        jvm_args = {
            "workload": args.workload, "seed": seed, "seconds": args.seconds,
            "trace": args.trace, "data": data, "out": os.path.join(run_dir, "out"),
            "result": os.path.join(run_dir, "result.json"), "cores": cores, "tmp": tmp,
            "warehouse": os.path.join(run_dir, "warehouse"),
            "index_dir": os.path.join(run_dir, "index"),
        }
        for k, v in cfg.items():
            if not isinstance(v, (list, dict)):
                jvm_args[k] = v
        if "queries" in cfg:
            jvm_args["queries"] = ",".join(cfg["queries"])
        if args.workload == "ingest":
            import gen
            jvm_args.update(eval_mod=gen.EVAL_MOD, batch_id_base=gen.BATCH_ID_BASE,
                            corpus_rows=info["docs"])
        cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                "graft.perfbench.Main"])
        jvm_args["launch_ms"] = time.time() * 1000.0
        with open(os.path.join(run_dir, "jvm.log"), "w") as lf:
            p = subprocess.Popen(cmd + [f"{k}={v}" for k, v in jvm_args.items()],
                                 stdout=lf, stderr=subprocess.STDOUT)
            stop = lambda *_: (p.kill(), p.wait(), sys.exit(4))
            signal.signal(signal.SIGTERM, stop)
            signal.signal(signal.SIGINT, stop)
            try:
                p.wait(timeout=args.seconds + JVM_MARGIN_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
        res_path = os.path.join(run_dir, "result.json")
        if p.returncode != 0 or not os.path.isfile(res_path):
            log(open(os.path.join(run_dir, "jvm.log")).read()[-3000:])
            fail(f"benchmark JVM exited with {p.returncode}", 3)
        with open(res_path) as f:
            res = json.load(f)

        failures += [f"error: {e}" for e in res.get("errors", [])]
        failures += check.digests(res)
        status = {}
        if args.workload == "ingest":
            failures += check.verdicts(res, os.path.join(data, "expected.json"))
        else:
            f, status = check.oracle(ROOT, data, os.path.join(run_dir, "out"), res["oracle"])
            failures += f
            for q in cfg["queries"]:
                status.setdefault(q, "digest-only (no oracle)")
        e2e, extra = end_to_end(args.workload, res, gen_s)
        if args.trace:
            layers, f = per_layer(args.workload, res, [m["name"] for m in bench["per_layer"]], data)
            failures += f
            metrics = {k: (v, units[k]) for k, v in layers.items()}
        else:
            metrics = e2e
        # attempted: the timed operations plus every check made
        checks = len(status) + (3 if args.workload == "ingest" else 0) + 1 + args.trace
        attempted = res["attempted"] + checks
        failed = len(failures)

        for msg in failures:
            log(f"FAILED {msg}")
        size = f"sf{cfg['sf']}" if "sf" in cfg else f"m={cfg.get('m', 1)}"
        print(f"# workload={args.workload} seed={seed} trace={args.trace} cores={cores} "
              f"inputs={in_digest[:16]} {json.dumps(info)[:300]}")
        for q, s in status.items():
            print(f"# check {q}: {s} at {size}")
        shown = metrics if args.trace else dict(e2e, **extra, failed_frac=(failed / attempted, "ratio"))
        for k, (v, u) in shown.items():
            print(f"{k} = {v:.6g} {u}")
        if args.keep:
            log(f"perfbench: run directory kept at {run_dir}")
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
        return 1 if failed else 0
    finally:
        if not args.keep:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
