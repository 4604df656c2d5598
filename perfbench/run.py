#!/usr/bin/env python3
"""Zonal-service benchmark: one run of one workload.

    python3 perfbench/run.py --workload huc8_run --seed 1 --seconds 20 --trace 0

Run from the repository root. It builds the engine and the benchmark
from source with sbt (offline) when the sources changed, prepares the
seeded inputs and expected results in a separate JVM, then measures the
workload in a fresh JVM against the engine's loopback HTTP server. The
last stdout line is one JSON object: correct, attempted, failed and the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, ".data")
sys.path.insert(0, HERE)
import stats  # noqa: E402

# (warm-up requests per set-up, seconds one run may take). Warm-up is
# one of each request shape, two for the HUC-8 kernel, whose first
# requests still run ~20% slow. multi_batch is not in BENCHMARK.json:
# its 20 requests alone take ~2 minutes (README.md).
WORKLOADS = {"huc8_run": (2, 170), "multi_batch": (1, 600), "huc12_http": (5, 170)}
SETUPS = 3
# a run sends at least this many requests, so its median is supported
MIN_REQUESTS = 2 * stats.MIN_BEYOND

# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

ON_PATH = ("api.json", "geom.aoi", "geom.union", "geom.lines", "sources.open",
           "operators.plan", "operators.exec", "operators.persist")
OPERATOR_SPANS = ("operators.plan", "operators.exec", "operators.persist")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build reads, to skip sbt when unchanged."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    digest = source_digest()
    stamp, cp_file = os.path.join(DATA, "build.stamp"), os.path.join(DATA, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.endswith(".jar") and os.pathsep in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt build failed")
    os.makedirs(DATA, exist_ok=True)
    # prepared inputs come from the old build's generator
    for d in os.listdir(DATA):
        if d.startswith("seed-"):
            shutil.rmtree(os.path.join(DATA, d))
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def java(cp, heap, main, args, timeout):
    env = dict(os.environ, GRAFT_SCRATCH=os.path.join(DATA, "scratch"))
    # a fixed heap under ParallelGC: G1's adaptive young-generation sizing
    # doubled the run-to-run spread of huc8_run latency in trials
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={os.path.join(DATA, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + ADD_OPENS + ["-cp", cp, main] + [str(a) for a in args])
    os.makedirs(os.path.join(DATA, "tmp"), exist_ok=True)
    p = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=timeout)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        fail(f"{main} exited with {p.returncode}")


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(raw):
    lat = [s["ms"] for s in raw["samples"]]
    p50 = stats.percentile(lat, 50)
    if p50 is None:
        fail(f"{len(lat)} requests cannot support a median; lengthen --seconds")
    return {
        "latency_p50_ms": {"value": p50, "unit": "ms"},
        "throughput_rps": {"value": len(lat) / raw["window_s"], "unit": "req/s"},
        "setup_s": {"value": statistics.median(raw["setup_s"]), "unit": "s"},
        "peak_rss_mb": {"value": raw["peak_rss_kb"] / 1024.0, "unit": "MB"},
    }


def per_layer(raw):
    reqs = raw["requests"]
    spans = raw["spans"]
    selfs = stats.self_times(spans)
    by_req = {}
    for s in spans:
        by_req.setdefault(s["req"], []).append(s)

    def layer_ms(names):
        return mean([sum(selfs[s["id"]] for s in by_req[r["req"]] if s["name"] in names) / 1e6
                     for r in reqs])

    def spark(field, names):
        return mean([sum(s["spark"].get(field, 0) for s in by_req[r["req"]] if s["name"] in names)
                     for r in reqs])

    def replay_ms(r):
        return sum(s["end_ns"] - s["start_ns"] for s in by_req[r["req"]] if s["name"] == "replay") / 1e6

    service = mean([r["service_ms"] for r in reqs])
    attributed = sum(layer_ms((n,)) for n in ON_PATH)
    service_p50 = statistics.median([r["service_ms"] for r in reqs])
    replay_p50 = statistics.median([replay_ms(r) for r in reqs])
    read = sum(r["tiles_read"] for r in reqs)
    masked = [r for r in reqs if r["masked_px"] > 0]
    m = {
        "api.http_ms": mean([r["http_ms"] for r in reqs]),
        "api.service_ms": service,
        "api.transport_ms": mean([r["http_ms"] - r["service_ms"] for r in reqs]),
        "api.json_ms": layer_ms(("api.json",)),
        "api.request_kb": mean([r["request_kb"] for r in reqs]),
        "api.response_kb": mean([r["response_kb"] for r in reqs]),
        "geom.aoi_ms": layer_ms(("geom.aoi",)),
        "geom.union_ms": layer_ms(("geom.union",)),
        "geom.lines_ms": layer_ms(("geom.lines",)),
        "geom.vertices": mean([r["vertices"] for r in reqs]),
        "sources.open_ms": layer_ms(("sources.open",)),
        "sources.scan_ms": layer_ms(("sources.scan",)),
        "sources.tiles_read": mean([r["tiles_read"] for r in reqs]),
        "sources.tiles_needed": mean([r["tiles_needed"] for r in reqs]),
        "sources.prune_ratio": sum(r["tiles_needed"] for r in reqs) / read if read else 0.0,
        "sources.bytes_read_mb": spark("bytes_read", ("sources.scan",)) / 2**20,
        "raster.rasterize_ms": layer_ms(("raster.rasterize",)),
        "raster.masked_px": mean([r["masked_px"] for r in reqs]),
        "raster.mask_ratio": (sum(r["masked_px"] for r in masked) / sum(r["decoded_px"] for r in masked)
                              if masked else 0.0),
        "operators.plan_ms": layer_ms(("operators.plan",)),
        "operators.exec_ms": layer_ms(("operators.exec",)),
        "operators.persist_ms": layer_ms(("operators.persist",)),
        "operators.jobs": spark("jobs", OPERATOR_SPANS),
        "operators.stages": spark("stages", OPERATOR_SPANS),
        "operators.tasks": spark("tasks", OPERATOR_SPANS),
        "operators.task_cpu_ms": spark("cpu_ns", OPERATOR_SPANS) / 1e6,
        "operators.scheduler_delay_ms": spark("scheduler_delay_ms", OPERATOR_SPANS),
        "operators.gc_ms": spark("gc_ms", OPERATOR_SPANS),
        "operators.shuffle_records": spark("shuffle_records", OPERATOR_SPANS),
        "trace.unattributed_ms": service - attributed,
        "trace.overhead_pct": 100.0 * (replay_p50 - service_p50) / service_p50,
    }
    units = {"_ms": "ms", "_kb": "KB", "_mb": "MB", "_pct": "%", "_ratio": "ratio"}
    out = {}
    for k, v in m.items():
        unit = next((u for suffix, u in units.items() if k.endswith(suffix)), "count")
        out[k] = {"value": v, "unit": unit}
    return out


def host_facts(args, start_load):
    commit = "unknown"
    if os.path.exists(os.path.join(ROOT, ".git")):
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or commit
    return {"nproc": os.cpu_count(), "loadavg_start": start_load, "heap": args.heap,
            "spark_master": args.master, "git_commit": commit, "source_digest": source_digest()[:16]}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--heap", default="2g")
    ap.add_argument("--clients", default="huc8_run=1,multi_batch=1,huc12_http=3",
                    help="closed-loop clients per workload")
    args = ap.parse_args()
    start, start_load = time.time(), os.getloadavg()[0]
    clients = dict((k, int(v)) for k, v in (kv.split("=") for kv in args.clients.split(",")))

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources missing at {need}: run from a repository checkout")
    cp = build()
    java(cp, args.heap, "perfbench.Prep", [DATA, args.workload, args.seed], timeout=600)

    out = os.path.join(DATA, f"run-{os.getpid()}.json")
    warmup, budget = WORKLOADS[args.workload]
    java(cp, args.heap, "perfbench.Bench",
         [DATA, args.workload, args.seed, args.seconds, MIN_REQUESTS, args.trace, args.master,
          clients[args.workload], SETUPS, warmup, out],
         timeout=max(budget - (time.time() - start), 60))
    with open(out) as f:
        raw = json.load(f)
    os.remove(out)
    with open(os.path.join(DATA, f"seed-{args.seed}", f"{args.workload}.json")) as f:
        expected = [r["expected"] for r in json.load(f)]

    counts = stats.outcomes(raw["samples"], expected, json.loads)
    attempted = len(raw["samples"])
    failed = attempted - counts["ok"]
    lat = [s["ms"] for s in raw["samples"]]
    metrics = per_layer(raw) if args.trace else end_to_end(raw)
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "outcomes": counts, "error_rate": stats.error_rate(counts), "requests": len(lat),
              "latency_p90_ms": stats.percentile(lat, 90), "setup_runs_s": raw["setup_s"],
              "clients": raw["clients"], "heap_max_mb": raw["heap_max_mb"],
              "cpu_steal_pct": raw["cpu_steal_pct"],
              "host": host_facts(args, start_load)}
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
