#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload niamoto-serial --seed 1 --seconds 10 --trace 0

Builds graft's main sources plus the harness in `perfbench/src` with the
Scala compiler shipped in /opt/spark/jars (cached under
`.bench_build/perfbench`), makes the workload's seeded inputs (cached by
seed and scale), runs the harness JVM, verifies every timed output and
prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
JARS = "/opt/spark/jars"
SCALA = [os.path.join(JARS, f"scala-{m}-2.13.17.jar") for m in ("compiler", "library", "reflect")]
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

NPROC = len(os.sched_getaffinity(0))
HEAP = "3g"

# niamoto: hierarchy → extraction/transform → export, chosen so that one
# pass stays a few seconds long. Covered: HierarchyQueries (rollup, and
# nested sets, whose iterative ancestor closure is persisted and never
# released, so every call leaves cached blocks in the session),
# ExtractionQueries, GeoQueries, CoreQueries and FormatQueries. Left
# out: ClassObjectQueries, EcoQueries, EventQueries and the pipeline
# gates.
NIAMOTO = [
    "q_hierarchy_rollup", "q_nested_set", "q_join_enrich", "q_spatial_join",
    "q_statistical_summary", "q_write_roundtrip",
]
# LLM-data curation: regex and language-ID kernels in graft.functions,
# and the minhash index lifecycle (index write beside shard probes).
CURATE = ["q_pii_scrub", "q_lang_id", "q_dedup_incremental"]
BASE_SF = 0.01
BASE_SEED = 20240101
CURATE_SF = 0.001
CURATE_SCALE = 6
STREAM = dict(warm_shards=40, rate=10.0, segment=20, fresh_limit=10.0)

# `warmup` passes run before measuring: short passes need several
# before the JIT settles (q_nested_set fell from 11 s to 3 s over its
# first six calls)
WORKLOADS = {
    "niamoto-serial": dict(kind="gates", gates=NIAMOTO, clients=1, warmup=5),
    "niamoto-shared": dict(kind="gates", gates=NIAMOTO, clients=NPROC, warmup=3),
    "curate-scaled": dict(kind="gates", gates=CURATE, clients=1, warmup=2),
    "ingest-stream": dict(kind="stream"),
    # self-test only: seconds-long, on a tiny corpus
    "smoke": dict(kind="gates", gates=["q_statistical_summary", "q_top_ranking", "q_pii_scrub"],
                  clients=1, warmup=1),
}

END_TO_END = [
    ("setup_s", "s"), ("pass_s", "s"), ("latency_p50_s", "s"), ("latency_p90_s", "s"),
    ("freshness_p50_s", "s"), ("freshness_p90_s", "s"), ("peak_rss_mb", "MB"),
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not main:
        raise SystemExit("perfbench: no graft sources under src/main/scala; run from a full checkout")
    return main + own


def build():
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()[:16]
    out = os.path.join(BUILD, "classes")
    stamp = os.path.join(out, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return key
    log(f"compiling {len(srcs)} sources")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t = time.time()
    subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(SCALA),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "-classpath", classpath(None),
         "@" + argfile],
        check=True, stdout=sys.stderr, timeout=600)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp, "w") as f:
        f.write(key)
    log(f"compiled in {time.time() - t:.1f}s")
    return key


def classpath(classes):
    jars = sorted(glob.glob(os.path.join(JARS, "*.jar")))
    return ":".join(([classes] if classes else []) + jars)


# --------------------------------------------------------------- inputs

def corpus(name, sf, seed, doc_scale=1):
    """Generated table directory, cached by (name, sf, seed, scale)."""
    d = os.path.join(BUILD, "data", f"{name}-sf{sf}-seed{seed}-x{doc_scale}")
    if not os.path.exists(os.path.join(d, ".done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.main(d, sf, seed, doc_scale)
        open(os.path.join(d, ".done"), "w").close()
    return d


def table_sizes(d, total=False):
    """Rows and bytes of each parquet file in `d` (or their sums)."""
    import pyarrow.parquet as pq
    out = {}
    for p in sorted(glob.glob(os.path.join(d, "*.parquet"))):
        t = os.path.basename(p)[:-8]
        out[t] = {"rows": pq.ParquetFile(p).metadata.num_rows, "bytes": os.path.getsize(p)}
    if total:
        return {k: sum(v[k] for v in out.values()) for k in ("rows", "bytes")}
    return out


def shards(docs_dir, seed, n):
    """Seeded shard split and arrival order of the documents in
    `docs_dir`, with the same PII injected as q_pii_scrub, cached by
    (seed, n)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = os.path.join(BUILD, "data", f"shards-seed{seed}-n{n}")
    if os.path.exists(os.path.join(d, ".done")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    docs = pq.read_table(os.path.join(docs_dir, "documents.parquet"),
                         columns=["doc_id", "text"]).to_pylist()
    rng = np.random.default_rng(seed)
    order = rng.permutation(len(docs))
    cuts = np.sort(rng.choice(np.arange(1, len(docs)), n - 1, replace=False))
    for i, part in enumerate(np.split(order, cuts)):
        rows = [docs[j] for j in part]
        ids = [r["doc_id"] for r in rows]
        text = [f"{r['text']} contact user{r['doc_id']}@example.com or call 555-{r['doc_id'] % 10000:04d}"
                f" from 10.{r['doc_id'] % 256}.0.1" for r in rows]
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": text}),
                       os.path.join(d, f"shard-{i:05d}.parquet"))
    open(os.path.join(d, ".done"), "w").close()
    return d


# ------------------------------------------------------------------ JVM

def jvm(opts, extra_conf=(), timeout=170):
    classes = os.path.join(BUILD, "classes")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
              "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
              "sun.nio.cs", "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # graft's gates write scratch output to fixed /tmp/graft-* paths;
    # ScratchLocalFs maps them under .bench_build, inside the checkout
    conf = [f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.hadoop.fs.file.impl=perfbench.ScratchLocalFs",
            f"-Dperfbench.scratch={os.path.join(BUILD, 'scratch')}", *extra_conf]
    # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file outside the checkout.
    # The whole heap is pre-touched: with only 1 GB of it, heap growth
    # made peak RSS jump by up to 50% in some runs and not in others.
    cmd = ["java", "-XX:-UsePerfData", *opens, f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={tmp}", *conf, "-cp", classpath(classes), "perfbench.Harness",
           *(f"{k}={v}" for k, v in opts.items())]
    logf = os.path.join(BUILD, "logs", f"{opts['name']}.log")
    for d in ("logs", "raw", "traces", "scratch"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    t = time.time()
    with open(logf, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=BUILD)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: harness timed out after {timeout}s (log: {logf})")
    if rc != 0:
        raise SystemExit(f"perfbench: harness exited {rc} (log: {logf})")
    log(f"harness ran {time.time() - t:.1f}s")
    with open(opts["out"]) as f:
        return json.load(f)


# ---------------------------------------------------------------- stats

def pct(xs, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(xs)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def layer_medians(raw):
    layers = raw.get("layers", [])
    keys = [k for k in layers[0] if k not in ("pass", "wall_s")] if layers else []
    out = {k: statistics.median(p[k] for p in layers) for k in keys}
    out["trace.overhead_s"] = raw.get("trace_overhead_s", 0.0)
    return out


# ------------------------------------------------------------ workloads

def verified_hashes(data, gates, raw_dump, dump_dir):
    """Expected output hash per gate for this build and input set: the
    hash of the dumped output when it matched its DuckDB oracle, None
    when it did not (every timed op of that gate then fails)."""
    res = oracle.check(data, dump_dir, gates)
    out = {}
    for g in gates:
        if g in raw_dump.get("dump_errors", {}):
            out[g] = {"hash": None, "reason": "dump threw: " + raw_dump["dump_errors"][g]}
        elif not res[g]["ok"]:
            out[g] = {"hash": None, "reason": "oracle mismatch: " + res[g]["reason"]}
        else:
            out[g] = {"hash": raw_dump["dump_hashes"][g], "reason": res[g]["reason"]}
    return out


def run_gates(w, name, key, args, data):
    gates = w["gates"]
    cache = os.path.join(BUILD, "verified", f"{key}-{os.path.basename(data)}.json")
    expected = json.load(open(cache)) if os.path.exists(cache) else {}
    need_dump = any(g not in expected for g in gates)
    dump_dir = os.path.join(BUILD, "dump", name)
    shutil.rmtree(dump_dir, ignore_errors=True)
    run_id = f"{name}-seed{args.seed}-trace{args.trace}"
    raw = jvm(dict(kind="gates", name=run_id, data=data, gates=",".join(gates),
                   clients=w["clients"], warmup=w["warmup"], seed=args.seed, seconds=args.seconds,
                   trace=args.trace,
                   dump=dump_dir if need_dump else "",
                   out=os.path.join(BUILD, "raw", run_id + ".json"),
                   trace_file=os.path.join(BUILD, "traces", run_id + ".jsonl")))
    if need_dump:
        expected.update(verified_hashes(data, gates, raw, dump_dir))
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache, "w") as f:
            json.dump(expected, f, indent=1)
    passes = [p for p in raw["passes"] if not p["traced"]]
    ops = [o for p in passes for o in p["ops"]]
    failures = {}
    wrong = 0
    for o in ops:
        exp = expected[o["gate"]]
        if "error" in o:
            # a thrown op returned no output, so none that is correct
            why = o["error"]
            wrong += 1
        elif exp["hash"] is None:
            why = exp["reason"]
            wrong += 1
        elif o["hash"] != exp["hash"]:
            why = f"hash {o['hash']} != verified {exp['hash']}"
            wrong += 1
        else:
            continue
        failures.setdefault(o["gate"], []).append(why)
    lat = [o["latency_s"] for o in ops if "error" not in o]
    metrics = {
        "setup_s": raw["setup_s"],
        "pass_s": statistics.median((p["end_ns"] - p["start_ns"]) / 1e9 for p in passes),
        "latency_p50_s": pct(lat, 50), "latency_p90_s": pct(lat, 90),
        # closed loop: an op is due when its client issues it, so its
        # output is as fresh as its latency; on these workloads the two
        # freshness figures repeat the latency ones
        "freshness_p50_s": pct(lat, 50), "freshness_p90_s": pct(lat, 90),
        "peak_rss_mb": raw["peak_rss_mb"],
    }
    n_failed = sum(len(v) for v in failures.values())
    detail = {
        "passes": len(passes), "ops": len(ops), "latency_samples": len(lat),
        "failed_frac": n_failed / len(ops), "failing_gates": {g: v[:3] for g, v in failures.items()},
        "warmup_errors": {o["gate"]: o["error"] for o in raw["warmup_ops"] if "error" in o},
        "verified": {g: expected[g]["reason"] for g in gates},
    }
    return raw, metrics, wrong == 0, len(ops), n_failed, detail


def run_stream(w, name, key, args, data):
    n = STREAM["warm_shards"] + int(round(STREAM["rate"] * args.seconds))
    shard_dir = shards(data, args.seed, n)
    work = os.path.join(BUILD, "stream-work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run_id = f"{name}-seed{args.seed}-trace{args.trace}"
    # state stores are sized once per checkpoint; one per core, as a
    # streaming deployment on this host would configure them
    raw = jvm(dict(kind="stream", name=run_id, shards=shard_dir, work=work, seed=args.seed,
                   shuffle_partitions=NPROC, seconds=args.seconds, trace=args.trace,
                   out=os.path.join(BUILD, "raw", run_id + ".json"),
                   trace_file=os.path.join(BUILD, "traces", run_id + ".jsonl"), **STREAM),
              extra_conf=["-Dspark.sql.streaming.stateStore.providerClass="
                          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
                          "-Dspark.sql.streaming.numRecentProgressUpdates=2000"])
    shutil.rmtree(work, ignore_errors=True)
    v = raw["verify"]
    ok = v["scrub_ok"] and v["minhash_ok"]
    sh = raw["shards"]
    fresh = [s["fresh_s"] for s in sh if s["fresh_s"] is not None]
    failed = len(sh) if not ok else sum(1 for s in sh if not s["ok"])
    # pass_s: micro-batch processing time per segment of shards, not
    # its wall time, which the fixed arrival schedule dominates
    segs = [s["busy_s"] for s in raw["segments"] if not s["traced"]]
    metrics = {
        "setup_s": raw["setup_s"], "pass_s": statistics.median(segs),
        "latency_p50_s": pct(raw["batch_latency_s"], 50), "latency_p90_s": pct(raw["batch_latency_s"], 90),
        "freshness_p50_s": pct(fresh, 50), "freshness_p90_s": pct(fresh, 90),
        "peak_rss_mb": raw["peak_rss_mb"],
    }
    late = [s["late_s"] for s in sh]
    detail = {
        "shards": len(sh), "batches": len(raw["batch_latency_s"]), "segments": len(segs),
        "failed_frac": failed / len(sh), "verify": v, "fresh_limit_s": STREAM["fresh_limit"],
        "rate_shards_per_s": STREAM["rate"],
        "generator_late_p50_s": pct(late, 50), "generator_late_max_s": max(late),
        "shard_inputs": {"dir": os.path.relpath(shard_dir, ROOT), "shards": n,
                         **table_sizes(shard_dir, total=True)},
    }
    return raw, metrics, ok, len(sh), failed, detail


def git_commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", help=argparse.SUPPRESS)  # self-test: input directory override
    args = ap.parse_args(argv)
    w = WORKLOADS[args.workload]
    key = build()
    if args.data:
        data = os.path.abspath(args.data)
    elif args.workload == "smoke":
        data = corpus("base", 0.001, BASE_SEED)
    elif args.workload == "curate-scaled":
        data = corpus("curate", CURATE_SF, args.seed, CURATE_SCALE)
    elif args.workload == "ingest-stream":
        data = corpus("stream", 0.001, BASE_SEED, 10)
    else:
        data = corpus("base", BASE_SF, BASE_SEED)
    runner = run_stream if w["kind"] == "stream" else run_gates
    raw, e2e, correct, attempted, failed, detail = runner(w, args.workload, key, args, data)
    detail["inputs"] = {"dir": os.path.relpath(data, ROOT), "tables": table_sizes(data)}
    detail["host"] = {
        "nproc": NPROC, "available_processors": raw["available_processors"],
        "default_parallelism": raw["default_parallelism"], "driver_xmx": HEAP,
        "max_heap_mb": raw["max_heap_mb"], "jdk": raw["jdk"], "spark": raw["spark_version"],
        "master": raw["master"], "git_commit": git_commit(),
    }
    units = dict(END_TO_END)
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layer_medians(raw).items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": units[k]} for k, _ in END_TO_END}
    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace, **detail,
               "end_to_end": e2e}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump({"summary": summary, "metrics": metrics}, f, indent=1)
    print("perfbench: " + json.dumps(summary))
    if not all(math.isfinite(m["value"]) for m in metrics.values()):
        raise SystemExit("perfbench: no successful operation to time; no result")
    print(json.dumps({"correct": bool(correct), "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def layer_unit(name):
    suffix = name.rsplit(".", 1)[-1]
    for end, unit in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB"), ("_frac", "ratio"),
                      ("_rows", "rows"), ("tasks_per_stage", "tasks/stage")):
        if suffix.endswith(end):
            return unit
    return "count"


if __name__ == "__main__":
    main()
