#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --record      # re-record digests.json
  python3 perfbench/run.py --profile all --data <sf0.1 dir>
                                         # per-query layer split (or q_a,q_b)

Builds the program and the harness from source on first use (sbt, offline),
checks the base tables in perfbench/data (the sf0.1 tables, byte for byte),
generates a GSOD corpus from the seed,
times a fixed single-threaded CPU loop, runs the workload in one JVM, checks
every output, and prints one JSON object as the last line of stdout. With
--trace 0 it reports the end-to-end metrics, with --trace 1 the per-layer
metrics of a traced run, whose spans are written to .perfbench/trace/.
Workloads and their queries are listed in perfbench/manifest.json.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(HERE, "data")
DEADLINE_S = 165
CORES = 4
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def load(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def _tree_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        files = [p] if os.path.isfile(p) else sorted(
            f for f in glob.glob(os.path.join(p, "**", "*"), recursive=True) if os.path.isfile(f))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program (its own build.sbt) and the harness; returns the
    runtime classpath. Rebuilds only when a source file changed."""
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main")]
    for s in sources:
        if not os.path.exists(s):
            fail(f"program source missing: {os.path.relpath(s, ROOT)}")
    sources += glob.glob(os.path.join(ROOT, "project", "*.properties"))
    sources += glob.glob(os.path.join(ROOT, "project", "*.sbt"))
    sources += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
                os.path.join(HERE, "src")]
    stamp = _tree_hash(sources)
    cp_file, stamp_file = os.path.join(WORK, "classpath.txt"), os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building program and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = proc.stdout.splitlines()
    cps = [l.strip() for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {proc.returncode})")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


# ---------------------------------------------------------------- inputs

def check_tables(manifest):
    """The registry workloads read copies of the sf0.1 tables the registry's
    recorded figures come from; each must match its recorded sha256."""
    for name, want in manifest["data"]["sha256"].items():
        path = os.path.join(DATA, name)
        if not os.path.isfile(path):
            fail(f"base table missing: {os.path.relpath(path, ROOT)}")
        with open(path, "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != want:
                fail(f"base table differs from the recorded sf0.1 table: {name}")


def gsod_corpus(seed, size):
    """A GSOD corpus from the seed, plus a small fixed warm-up corpus."""
    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    import gen_gsod
    out = os.path.join(WORK, "gsod")
    shutil.rmtree(out, ignore_errors=True)
    gen_gsod.generate(out, seed, size["years"], size["stations"])
    gen_gsod.generate(os.path.join(out, "warmup"), 0, 1, 20)
    return out


# ---------------------------------------------------------------- host

def calibrate():
    """Seconds for a fixed single-threaded CPU loop, median of 9, so host
    slow-downs from other tenants can be told apart from program changes."""
    times = []
    for _ in range(9):
        t0 = time.perf_counter()
        x = 0
        for i in range(500_000):
            x = (x * 31 + i) % 1_000_003
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


# ---------------------------------------------------------------- run

def harness(cp, args, deadline=DEADLINE_S, heap=HEAP):
    """Runs perfbench.Harness; `deadline` is seconds from now."""
    t0 = time.monotonic()
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    out = os.path.join(WORK, "result.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", cp, "perfbench.Harness", f"work={WORK}", f"out={out}", f"cores={CORES}"] + args
    budget = deadline - (time.monotonic() - t0)
    with open(os.path.join(WORK, "harness.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=logf,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(budget, 10))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("harness timed out")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(WORK, "harness.log")) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"harness exited with {rc}")
    with open(out) as f:
        return json.load(f)


def close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def check_gsod(corpus):
    """The read-back rows against the generator's own monthly medians."""
    with open(os.path.join(corpus, "expected.json")) as f:
        want = {(r["usaf"], r["wban"], r["year"], r["month"]): r for r in json.load(f)}
    got = {}
    for path in glob.glob(os.path.join(WORK, "gsod_rows", "*.txt")):
        with open(path) as f:
            for line in f:
                r = json.loads(line)
                got[(r["usaf"], r["wban"], r.get("year"), r.get("month"))] = r
    if set(got) != set(want):
        log(f"gsod: {len(got)} rows read back, {len(want)} expected")
        return False
    for k, w in want.items():
        g = got[k]
        for col, v in w.items():
            if not close(g.get(col), v):
                log(f"gsod: row {k} column {col}: got {g.get(col)!r}, want {v!r}")
                return False
    return True


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--profile")
    ap.add_argument("--data", default=DATA, help="base-table dir for --profile")
    a = ap.parse_args()

    manifest = load("manifest.json")
    wl = manifest["workloads"].get(a.workload)
    if wl is None and not (a.record or a.profile):
        fail(f"unknown workload {a.workload!r}")
    check_tables(manifest)
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    if a.record:
        return record(cp, manifest)
    if a.profile:
        return profile(cp, a.profile, a.data)
    # the deadline counts from here: a first run's build is not charged to it
    t_ready = time.monotonic()
    calib = calibrate()

    # the seed sets the order of the operations; the GSOD pipeline's write
    # and read-back stay together
    units = [[q] for q in wl["queries"]]
    args = [f"seconds={a.seconds}", f"trace={a.trace}", f"data={DATA}",
            "tables=" + ",".join(wl["tables"])]
    if "gsod" in wl:
        units.append(["gsod.ingest_write", "gsod.read"])
        corpus = gsod_corpus(a.seed, wl["gsod"])
        args.append(f"corpus={corpus}")
    random.Random(a.seed).shuffle(units)
    args.append("ops=" + ",".join(op for u in units for op in u))
    golden = load("digests.json")
    res = harness(cp, args, deadline=DEADLINE_S - (time.monotonic() - t_ready))

    passes = res["passes"]
    attempted = failed = 0
    first_read = None
    for p in passes:
        for o in p["ops"]:
            attempted += 1
            bad = o["error"] is not None
            if bad:
                log(f"{o['op']} failed: {o['error']}")
            elif not o["op"].startswith("gsod.") and o["digest"] != golden.get(o["op"]):
                log(f"{o['op']}: digest {o['digest']} != recorded {golden.get(o['op'])}")
                bad = True
            elif o["op"] == "gsod.read":
                first_read = first_read or o["digest"]
                if o["digest"] != first_read:
                    log(f"gsod.read: digest {o['digest']} differs from {first_read}")
                    bad = True
            failed += bad
    if "gsod" in wl:
        attempted += 1
        failed += not check_gsod(corpus)
    correct = failed == 0

    timed = [p for p in passes if not p["warm"]]
    plain = [p for p in timed if not p["traced"]]
    if a.trace == 0:
        per_op = {}
        for p in plain:
            for o in p["ops"]:
                per_op.setdefault(o["op"], []).append(o["seconds"])
        metrics = {
            "run_s": (statistics.median(p["seconds"] for p in plain), "s"),
            "query_geomean_s": (geomean([statistics.median(v) for v in per_op.values()]), "s"),
            "setup_s": (statistics.median(res["setup_s"]), "s"),
            "ok_frac": (1.0 - failed / attempted, "fraction"),
        }
    else:
        units = {m["name"]: m["unit"] for m in load_benchmark()["per_layer"]}
        layers = res["layers"]
        traced_s = statistics.median(p["seconds"] for p in timed if p["traced"])
        metrics = {}
        for name, unit in units.items():
            if name == "host.calib_s":
                v = calib
            elif name == "exec.peak_mem_mb":
                v = statistics.median(p["peak_exec_mem_mb"] for p in timed)
            elif name == "bench.tracing_overhead_frac":
                v = traced_s / statistics.median(p["seconds"] for p in plain) - 1.0
            else:
                v = statistics.median(l[name] for l in layers)
            metrics[name] = (v, unit)
        cov = statistics.median(l["bench.span_coverage"] for l in layers)
        if not 0.95 <= cov <= 1.0 + 1e-9:
            log(f"layer spans cover {cov:.3f} of the operation's wall time (want >= 0.95)")
            correct = False
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        with open(os.path.join(WORK, "trace", f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "spans": res["spans"],
                       "layers": layers}, f)
    log(f"host.calib_s={calib:.4f}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- tools

def record(cp, manifest):
    """Re-records digests.json: every registry query of every workload, in
    two different orders; a query whose digest differs between the runs
    is reported and left out."""
    ops = sorted({q for w in manifest["workloads"].values() for q in w["queries"]})
    seen = {}
    for seed in (1, 2):
        order = list(ops)
        random.Random(seed).shuffle(order)
        res = harness(cp, [f"data={DATA}", "ops=" + ",".join(order),
                           "passes=1", "setups=1", "warm=1"], deadline=3600)
        for p in res["passes"]:
            for o in p["ops"]:
                seen.setdefault(o["op"], set()).add(o["digest"] if o["error"] is None else None)
    good = {q: d.pop() for q, d in seen.items() if len(d) == 1 and None not in d}
    for q in sorted(set(seen) - set(good)):
        log(f"not recorded, unstable or failing: {q} {sorted(map(str, seen[q]))}")
    with open(os.path.join(HERE, "digests.json"), "w") as f:
        json.dump(dict(sorted(good.items())), f, indent=1)
        f.write("\n")
    log(f"recorded {len(good)} of {len(ops)} digests")
    return 0 if len(good) == len(ops) else 1


def profile(cp, which, data):
    """One warm and one traced pass over the given queries; prints each
    query's build / plan / exec split, job counts and the program classes
    its final plan runs."""
    res = harness(cp, [f"data={os.path.abspath(data)}", f"ops={which}",
                       "passes=2", "setups=1", "warm=1", "trace=1"], deadline=7200, heap="6g")
    spans = res["spans"]
    rows = {}
    for s in spans:
        r = rows.setdefault(s["op"], {"build_s": 0.0, "plan_s": 0.0, "exec_s": 0.0,
                                      "build_jobs": 0, "exec_jobs": 0, "replay_batches": 0,
                                      "program_code": []})
        d = s["end_s"] - s["start_s"]
        if s["name"] in ("queries.build", "streaming.replay"):
            r["build_s"] += d
            r["build_jobs"] += s["jobs"]
            r["replay_batches"] += s["micro_batches"]
        elif s["name"] == "plans.plan":
            r["plan_s"] += d
            r["program_code"] = s["program_code"]
        elif s["name"] == "exec":
            r["exec_s"] += d
            r["exec_jobs"] += s["jobs"]
    errors = {o["op"]: o["error"] for p in res["passes"] for o in p["ops"] if o["error"]}
    for q, r in rows.items():
        r["error"] = errors.get(q)
    with open(os.path.join(WORK, "profile.json"), "w") as f:
        json.dump(rows, f, indent=1)
    for q, r in sorted(rows.items(), key=lambda kv: -(kv[1]["build_s"] + kv[1]["exec_s"])):
        tot = r["build_s"] + r["plan_s"] + r["exec_s"]
        print(f"{q:32s} total {tot:7.3f}  build {r['build_s']:7.3f} ({r['build_jobs']:3d} jobs)"
              f"  plan {r['plan_s']:6.3f}  exec {r['exec_s']:7.3f} ({r['exec_jobs']:2d} jobs)"
              f"  batches {r['replay_batches']}  {' '.join(r['program_code'])}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
