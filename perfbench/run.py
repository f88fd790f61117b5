#!/usr/bin/env python3
"""Benchmark of the graft engine over the project's sf0.1 tables: /recs
serving under concurrent clients, and a batch workload of registry rows
followed by edge-store ingest.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload recs_serve --seed 1 --seconds 15 \
        --trace 0

Workloads: recs_serve, registry_ingest (see README.md).

The script builds the program and the harness from source with sbt
(skipped when the sources have not changed since the last build),
generates the workload inputs from --seed over the tables in data/sf0.1,
runs one benchmark JVM, checks its outputs, and prints as its last stdout
line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
JVM also installs a Spark listener and reports the per-layer ones.
Everything it writes stays under the checkout: .bench_build/ (build
stamp, classpath) and .bench_work/ (per-run scratch, removed at exit).
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.1")
WORK_ROOT = os.path.join(ROOT, ".bench_work")

WORKLOADS = ("recs_serve", "registry_ingest")
N_PART, N_CUSTOMER = 20_000, 15_000
# One block of 18 requests: the arm mix 6:5:4:3 (prod:cust:item:rrf) in
# a fixed interleaving.
ARM_BLOCK = ["prod", "cust", "item", "rrf", "prod", "cust", "item", "prod",
             "rrf", "cust", "prod", "item", "cust", "prod", "rrf", "item",
             "cust", "prod"]
UNKNOWN_SHARE = 0.05   # of default-arm (prod, cust) ids
RECS_BLOCK_S = 15      # --seconds per block of requests in a pass
RECS_PASSES = 2        # the request sequence is served this many times
# registry_ingest's timed passes; each operation's latency is the fastest
# of its samples over the passes.
INGEST_PASSES = 2
# The JVM starts no operation later than DEADLINE_S after its start and
# counts the ones left as failed, so a slow program still gets a result;
# KILL_S is the hard limit on the JVM.
DEADLINE_S, KILL_S = 140, 165

END_TO_END = [("setup_s", "s"), ("ops_per_s", "1/s"), ("op_gmean_ms", "ms"),
              ("op_tail_ms", "ms")]
MODULES = ["operators", "graph", "text", "dedup", "similarity", "streaming",
           "multimodal", "sources", "pipeline"]
PER_LAYER = (
    [("serve.wait_ms", "ms")]
    + [(f"serve.took_ms.{a}", "ms") for a in
       ("prod", "cust", "item", "rrf")]
    + [("recs.fallback_pct", "%"), ("recs.jobs_per_req", "count"),
       ("recs.tasks_per_req", "count"), ("recs.plan_ms_per_req", "ms"),
       ("recs.exec_cpu_ms_per_req", "ms"),
       ("recs.input_bytes_per_req", "bytes"), ("registry.total_s", "s")]
    + [(f"{m}.{k}", u) for m in MODULES for k, u in
       (("wall_s", "s"), ("jobs", "count"), ("plan_ms", "ms"),
        ("exec_cpu_ms", "ms"), ("shuffle_bytes", "bytes"),
        ("driver_gap_ms", "ms"))]
    + [("store.merge_ms", "ms"), ("store.compact_ms", "ms"),
       ("store.folds", "count"), ("store.jobs_per_batch", "count"),
       ("store.read_ms", "ms"), ("store.read_tail_ms", "ms"),
       ("store.read_files", "count"), ("store.edges_per_s", "1/s"),
       ("store.bytes_written_per_edge", "bytes"),
       ("store.bytes_per_edge", "bytes"),
       ("spark.gc_ms", "ms"), ("spark.spill_bytes", "bytes"),
       ("setup.session_s", "s"), ("setup.warmup_s", "s")]
    + [(f"setup.prewarm_s.{m}", "s") for m in MODULES])


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(f"error: {msg}")
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile program + harness; returns the runtime classpath."""
    stamp = source_stamp()
    stamp_f = os.path.join(BUILD_DIR, "stamp")
    cp_f = os.path.join(BUILD_DIR, "classpath")
    if os.path.exists(stamp_f) and os.path.exists(cp_f):
        with open(stamp_f) as f:
            if f.read() == stamp:
                with open(cp_f) as g:
                    return g.read()
    os.makedirs(BUILD_DIR, exist_ok=True)
    log("building with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-no-colors", "-Dsbt.supershell=false",
         "perfbench/compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
    cp = [ln.strip() for ln in p.stdout.splitlines()
          if ln.strip().startswith("/") and ".jar" in ln]
    if p.returncode != 0 or not cp:
        die(f"sbt build failed (exit {p.returncode})")
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_f, "w") as f:
        f.write(cp[-1])
    with open(stamp_f, "w") as f:
        f.write(stamp)
    return cp[-1]


# ------------------------------------------------------ workload inputs

def duck(data):
    import duckdb
    con = duckdb.connect()
    for t in ("part", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    return con


def spec_recs(rng, data, seconds, clients):
    """A fixed amount of work: one block of the arm pattern per
    RECS_BLOCK_S of --seconds (a block takes about 13 s on 4 cores),
    dealt round-robin to the clients and served RECS_PASSES times. Every
    run thus serves the same arm mix; the seed draws the ids."""
    con = duck(data)
    buyers = sorted(r[0] for r in con.execute(
        "SELECT DISTINCT o_custkey FROM orders JOIN lineitem "
        "ON l_orderkey = o_orderkey").fetchall())
    buyer_set = set(buyers)
    blocks = max(1, int(seconds // RECS_BLOCK_S))
    reqs = []
    for n, arm in enumerate(ARM_BLOCK * blocks):
        unknown = arm in ("prod", "cust") and rng.random() < UNKNOWN_SHARE
        if arm == "cust":
            i = rng.randrange(N_CUSTOMER, 2 * N_CUSTOMER) if unknown \
                else rng.randrange(N_CUSTOMER)
            expect = i in buyer_set
        else:
            i = rng.randrange(N_PART, 2 * N_PART) if unknown \
                else rng.randrange(N_PART)
            expect = i < N_PART
        reqs.append([n % clients, arm, i, int(expect), ""])
    # The check sample: the first answerable request of each arm.
    for arm in ("prod", "cust", "item", "rrf"):
        next(r for r in reqs if r[1] == arm and r[3])[4] = " sample"
    return [f"passes {RECS_PASSES}"] + [
        f"req {c} {arm} {i} {e}{s}" for c, arm, i, e, s in reqs]


def spec_registry():
    with open(os.path.join(HERE, "registry_rows.json")) as f:
        pinned = json.load(f)
    return [f"row {n} {h or '-'}" for n, h in sorted(pinned.items())]


def spec_ingest(rng):
    """INGEST_PASSES windows of the 30 days of events, one per timed pass,
    each cut by time into four slices, one commit each, so every pass
    folds its delta chain exactly once (the fold runs when a chain passes
    3 deltas). The seed jitters the cut points."""
    lo = 1_704_067_200_000_000            # 2024-01-01T00:00:00Z, in us
    window = 30 * 86_400 * 1_000_000 // INGEST_PASSES
    width = window // 4
    out = []
    for p in range(INGEST_PASSES):
        a = lo + p * window
        cuts = [a] + [a + width * i + rng.randrange(-width // 5, width // 5)
                      for i in range(1, 4)] + [a + window]
        out += [f"slice {p} {x} {y}" for x, y in zip(cuts, cuts[1:])]
    return out


# ---------------------------------------------------------------- checks

PROD_SQL = """
WITH seed AS (SELECT DISTINCT l_orderkey AS o FROM lineitem
              WHERE l_partkey = {id}),
     co AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            JOIN seed ON l_orderkey = o WHERE l_partkey <> {id})
SELECT l_partkey, CAST(count(*) AS DOUBLE) AS score,
       'co-occurrence' AS reason
FROM co GROUP BY l_partkey ORDER BY score DESC, l_partkey LIMIT 10"""

PROD_FALLBACK_SQL = """
SELECT p_partkey, 1.0::DOUBLE, 'same-category' FROM part
WHERE p_brand = (SELECT p_brand FROM part WHERE p_partkey = {id})
  AND p_partkey <> {id}
ORDER BY p_partkey LIMIT 10"""

CUST_SQL = """
WITH li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
     mo AS (SELECT o_orderkey AS o FROM orders WHERE o_custkey = {id}),
     b1 AS (SELECT DISTINCT li.o, li.p FROM li JOIN mo USING (o)),
     mult AS (SELECT p, count(*) AS m FROM b1 GROUP BY p),
     ow AS (SELECT o, sum(m) AS w FROM
            (SELECT DISTINCT li.o, li.p, mult.m FROM li JOIN mult USING (p))
            GROUP BY o),
     cand AS (SELECT DISTINCT li.o, li.p, ow.w FROM li JOIN ow USING (o))
SELECT p, CAST(sum(w) AS DOUBLE) AS score, 'co-occurrence'
FROM cand WHERE p NOT IN (SELECT p FROM b1)
GROUP BY p ORDER BY score DESC, p LIMIT 10"""

CUST_FALLBACK_SQL = """
WITH mine AS (SELECT DISTINCT l_partkey AS p FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey WHERE o_custkey = {id}),
     cats AS (SELECT DISTINCT p_brand FROM part JOIN mine ON p_partkey = p)
SELECT DISTINCT p_partkey, 1.0::DOUBLE, 'same-category'
FROM part JOIN cats USING (p_brand)
WHERE p_partkey NOT IN (SELECT p FROM mine)
ORDER BY p_partkey LIMIT 10"""


def duckdb_check(data, samples):
    """Default-arm sample answers against DuckDB; returns mismatches."""
    con = duck(data)
    bad = []
    for s in samples:
        if s["arm"] not in ("prod", "cust"):
            continue
        sqls = (PROD_SQL, PROD_FALLBACK_SQL) if s["arm"] == "prod" \
            else (CUST_SQL, CUST_FALLBACK_SQL)
        want = con.execute(sqls[0].format(id=s["id"])).fetchall() or \
            con.execute(sqls[1].format(id=s["id"])).fetchall()
        got = [(i["product_id"], i["score"], i["reason"]) for i in s["items"]]
        if [tuple(r) for r in want] != got:
            bad.append(f"{s['arm']} {s['id']}: served {got}, duckdb {want}")
    return bad


# ------------------------------------------------------------------ run

def mem_total_bytes():
    with open("/proc/meminfo") as f:
        for ln in f:
            if ln.startswith("MemTotal:"):
                return int(ln.split()[1]) * 1024
    return 8 << 30


def java_opts(heap_mb):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    opts = [f"-Xmx{heap_mb}m", "-Duser.timezone=UTC"]
    for p in opens:
        opts += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return opts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"no program sources under {ROOT}; run from a full checkout")
    cp = build()

    # Host-shaped defaults: every core, a quarter of memory for the heap.
    cores = len(os.sched_getaffinity(0))
    heap_mb = max(2048, min(8192, mem_total_bytes() // 4 // (1 << 20)))
    clients = cores

    rng = random.Random(f"{a.workload}:{a.seed}")
    work = os.path.join(WORK_ROOT, str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.workload == "recs_serve":
            spec = spec_recs(rng, DATA, a.seconds, clients)
        else:
            spec = spec_registry() + spec_ingest(rng)
        spec_f = os.path.join(work, "spec.txt")
        with open(spec_f, "w") as f:
            f.write("\n".join(spec) + "\n")
        out_f = os.path.join(work, "report.json")
        cmd = ["java"] + java_opts(heap_mb) + [
            "-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--trace", str(a.trace), "--cores", str(cores),
            "--deadline-s", str(DEADLINE_S), "--data", DATA, "--work", work,
            "--spec", spec_f, "--out", out_f]
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                stdout=sys.stderr, stderr=sys.stderr)
        try:
            rc = proc.wait(timeout=KILL_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"benchmark JVM exceeded {KILL_S} s")
        if rc != 0 or not os.path.exists(out_f):
            die(f"benchmark JVM exited with {rc}")
        with open(out_f) as f:
            rep = json.load(f)

        correct = bool(rep["correct"])
        for e in rep["errors"]:
            log(e)
        if a.workload == "recs_serve":
            for m in duckdb_check(DATA, rep.get("samples", [])):
                correct = False
                log(f"check: {m}")
        if a.workload == "registry_ingest":
            log("row hashes: " + json.dumps(rep.get("hashes", {})))

        if a.trace:
            src, names = rep["layer"], PER_LAYER
        else:
            src, names = rep["e2e"], END_TO_END
        # A layer the workload does not exercise has no figure and reads 0.
        metrics = {n: {"value": float(src.get(n) or 0.0), "unit": u}
                   for n, u in names}
        # Diagnostics line: host stamps, and the end-to-end figures of a
        # traced run (their gap to an untraced run is the tracing cost).
        print(json.dumps({"stamp": rep["stamp"], "workload": a.workload,
                          "seed": a.seed, "e2e": rep["e2e"],
                          "passes": rep["pass_stamps"],
                          "op_ms": rep["op_ms"],
                          "errors": rep["errors"][:5]}))
        print(json.dumps({"correct": correct, "attempted": rep["attempted"],
                          "failed": rep["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
