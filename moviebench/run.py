#!/usr/bin/env python3
"""Benchmark of the paper's MovieRank/MovieRating pipelines.

Run from the root of a checkout:

  python3 moviebench/run.py --workload paper_csv --seed 1 --seconds 10 --trace 0

It builds the engine and the harness (moviebench/harness) with sbt when
their sources changed, generates the workload's inputs from the seed
(moviebench/gen.py), runs the harness JVM, checks every output against
DuckDB (moviebench/oracle.py) and prints a report followed, as its last
line, by one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. Everything it writes goes under
.bench_build/moviebench in the checkout. --record FILE also appends the full
result, with the host fingerprint, as one JSON line (see compare.py).

Exit codes: 0 with a result; 2 when the checkout holds no engine to build;
3 when the build fails; 4 when the harness fails or overruns.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "moviebench")
HARNESS = os.path.join(BENCH, "harness")
ENGINE_MARKERS = ("build.sbt", os.path.join("src", "main", "scala", "graft", "engine",
                                            "MovieAnalysis.scala"))
BUILD_INPUTS = ("build.sbt", "project/build.properties", "src/main",
                "moviebench/harness/build.sbt", "moviebench/harness/project/build.properties",
                "moviebench/harness/src")

# Why each workload exists, and its inputs. Sizes keep one run (set-up three
# times plus 20 s of measuring) under a minute on 4 cores.
WORKLOADS = {
    # The paper's own measurement, at half the low end of its 50 MB - 4 GB
    # range: CSV parsing in Sources dominates; the exchange carries at most
    # |movies| x tasks rows and the aggregate fits in cache.
    "paper_csv": dict(movies=60000, ratings=1000000, shape="zipf"),
    # Small CSV batches appended to a Snapshot table, each followed by both
    # pipelines over the current snapshot: writes beside reads, many small
    # files, the Snapshot metadata path.
    "incremental_snapshot": dict(movies=60000, batch_rows=10000, shape="zipf",
                                 initial=2),
}
SETUPS = 3          # set-ups per run; setup_s is their median
WARMUP_ROWS = 200000  # ratings in the input set-up warms up on
TRACED_PAIRS = 3    # (untraced, traced) op pairs in a traced run
BATCHES_PER_SECOND = 6  # batches generated per measured second (ops take ~2 s)
DEADLINE_S = 170    # a run, build excluded, ends within this many seconds


def declared(kind):
    """{name: unit} of the metrics BENCHMARK.json declares under `kind`."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def fail(code, msg):
    print(f"moviebench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_quiet(cmd, log, timeout, **kw):
    """Runs `cmd` in its own process group with output to `log`; on timeout
    kills the whole group and waits for it. Returns the exit code or None."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def tail_of(log, n=30):
    with open(log, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def source_digest():
    """Digest of the build inputs' names, sizes and modification times."""
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        walk = [(path, [], [""])] if os.path.isfile(path) else os.walk(path)
        for d, dirs, files in walk:
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f) if f else d
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def build():
    """Compiles engine and harness unless their sources are unchanged since
    the last build. Returns (classpath, JVM flags of the engine's forked
    runs, source digest)."""
    if not all(os.path.isfile(os.path.join(ROOT, m)) for m in ENGINE_MARKERS):
        fail(2, f"no engine sources under {ROOT} (need {', '.join(ENGINE_MARKERS)})")
    digest = source_digest()
    launch = os.path.join(WORK, "launch.txt")
    stamp = os.path.join(WORK, "launch.stamp")
    fresh = os.path.exists(stamp) and open(stamp).read() == digest
    if not fresh:
        os.makedirs(WORK, exist_ok=True)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        log = os.path.join(WORK, "build.log")
        rc = run_quiet(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", f"-Dmoviebench.launch={launch}",
                        "writeLaunch"], log, 850, cwd=HARNESS, env=env)
        if rc != 0:
            fail(3, f"build failed (rc={rc}); last lines of {log}:\n{tail_of(log)}")
        with open(stamp, "w") as f:
            f.write(digest)
    with open(launch) as f:
        lines = f.read().splitlines()
    return lines[0], [x for x in lines[1:] if x], digest


def heap_gb():
    """Half of MemTotal, clamped to 2..8 GB (the Tier-1 test heap)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return 2, None
    return min(8, max(2, kb // 2097152)), kb


def inputs(workload, seed, seconds):
    """Generates (or reuses) the workload's inputs for `seed`; returns the
    generator's description of the files."""
    w = WORKLOADS[workload]
    args = dict(movies=w["movies"], shape=w["shape"], warmup_rows=WARMUP_ROWS)
    if workload == "incremental_snapshot":
        batches = w["initial"] + BATCHES_PER_SECOND * max(1, int(seconds)) + TRACED_PAIRS * 2
        args.update(ratings=w["batch_rows"] * batches, batches=batches)
    else:
        args.update(ratings=w["ratings"], batches=0)
    data = os.path.join(WORK, "data", f"{workload}-seed{seed}")
    meta_path = os.path.join(data, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if all(meta.get(k) == v for k, v in args.items()):
            return data, meta
    parent = os.path.dirname(data)
    if os.path.isdir(parent):   # keep one input set per workload on disk
        for d in os.listdir(parent):
            if d.startswith(workload + "-seed"):
                shutil.rmtree(os.path.join(parent, d))
    t0 = time.time()
    meta = gen.generate(seed, data, **args)
    meta["generate_s"] = time.time() - t0
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return data, meta


def launch_harness(cp, flags, heap, workload, data, meta, run_dir, a, cores, deadline):
    ratings_list = os.path.join(run_dir, "ratings.txt")
    with open(ratings_list, "w") as f:
        f.write("".join(os.path.join(data, r) + "\n" for r in meta["ratings_files"]))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    jvm = [x for x in flags if not x.startswith(("-Xmx", "-Xms"))]
    cmd = (["java"] + jvm + [f"-Xmx{heap}g", f"-Xms{heap}g", f"-Djava.io.tmpdir={tmp}",
                             "-cp", cp, "moviebench.Harness"] +
           ["--workload", workload, "--movies", os.path.join(data, "movies.csv"),
            "--ratings", ratings_list, "--warmup", os.path.join(data, "warmup.csv"),
            "--initial", str(WORKLOADS[workload].get("initial", 0)),
            "--work", run_dir, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--pairs", str(TRACED_PAIRS), "--cores", str(cores), "--setups", str(SETUPS),
            "--result", os.path.join(run_dir, "result.json")])
    log = os.path.join(run_dir, "harness.log")
    rc = run_quiet(cmd, log, max(10, deadline - time.time()), cwd=run_dir)
    if rc != 0:
        fail(4, f"harness {'timed out' if rc is None else f'failed (rc={rc})'}; "
                f"last lines of {log}:\n{tail_of(log)}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def check_outputs(data, meta, ops):
    """Marks each op correct or not; every output is checked."""
    files = [os.path.join(data, r) for r in meta["ratings_files"]]
    orc = oracle.Oracle(os.path.join(data, "movies.csv"), files)
    expected, verified = {}, {}
    for op in ops:
        upto = op["batches"] or len(files)
        if upto not in expected:
            expected[upto] = orc.expected(upto)
        ok = True
        for name, out in op["outputs"].items():
            raw = oracle.raw_digest(out)
            key = (upto, name, raw)
            if raw is None:
                ok = False
            elif key in verified:
                ok &= verified[key]
            else:
                verified[key] = oracle.check(orc, expected[upto], out, name, upto)
                ok &= verified[key]
        op["correct"] = ok


def input_mb(meta, op):
    """MB of ratings CSV the op brings in: the whole file, or its batch."""
    sizes = meta["ratings_bytes"]
    return (sizes[op["batches"] - 1] if op["batches"] else sizes[0]) / 1e6


def end_to_end(res, meta):
    ops = [op for op in res["ops"] if not op["traced"]]
    t = lambda k: [op["times"][k] for op in ops]
    return {
        "setup_s": stats.median(res["setup_s"]),
        "movierank_s": stats.median(t("movierank_s")),
        "movierating_s": stats.median(t("movierating_s")),
        "op_p50_s": stats.median(t("op_s")),
        "input_mb_s": stats.median([input_mb(meta, op) / op["times"]["op_s"] for op in ops]),
        "peak_heap_mb": res["peak_heap_mb"],
    }


def per_layer(res, names):
    """Medians over the traced ops. A layer the workload does not use (the
    Snapshot calls of paper_csv) reads 0."""
    traced = [op for op in res["ops"] if op["traced"]]
    plain = [op for op in res["ops"] if not op["traced"]]
    out = {n: stats.median([op["layers"].get(n, 0.0) for op in traced]) for n in names}
    out["trace.overhead_s"] = (stats.median([op["times"]["op_s"] for op in traced]) -
                               stats.median([op["times"]["op_s"] for op in plain]))
    out["trace.pipelines_s"] = stats.median(
        [op["times"]["movierank_s"] + op["times"]["movierating_s"] for op in traced])
    unknown = set().union(*(op["layers"] for op in traced)) - set(names)
    if unknown:
        fail(4, f"harness reports layers BENCHMARK.json does not declare: {sorted(unknown)}")
    return out


def fingerprint(res, heap, mem_kb, cores, digest):
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                    capture_output=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.TimeoutExpired):
            pass
    jvm = res["jvm"]
    return {"cpus": os.cpu_count(), "mem_total_kb": mem_kb, "heap": f"{heap}g",
            "jvm_flags": [f for f in jvm["flags"] if not f.startswith("-Djava.io.tmpdir")],
            "jdk": jvm["jdk"], "spark": jvm["spark"], "scala": jvm["scala"], "k": cores,
            "commit": commit, "source_digest": digest}


def report(a, res, meta, metrics, units, ops, fp):
    failed = sum(not op["correct"] for op in ops)
    print(f"moviebench {a.workload} seed={a.seed} trace={a.trace} k={fp['k']} "
          f"heap={fp['heap']} ops={len(ops)} failed={failed}/{len(ops)} "
          f"failed_ratio={failed / len(ops):.3g} closed loop, 1 client")
    print(f"  inputs: {meta['movies']} movies, {meta['ratings']} ratings "
          f"({sum(meta['ratings_bytes']) / 1e6:.1f} MB CSV, {meta['shape']}), "
          f"generated in {meta.get('generate_s', 0):.1f} s (not in setup_s)")
    timed = [op for op in res["ops"] if not op["traced"]]
    for name, value in metrics.items():
        line = f"  {name:<32} {value:>14.6g} {units[name]}"
        key = {"op_p50_s": "op_s"}.get(name, name)
        if a.trace == 0 and timed and key in timed[0]["times"]:
            xs = [op["times"][key] for op in timed]
            tl = stats.tail(xs)
            line += f"  (median of {len(xs)}; " + (
                f"p{tl[0]:.0f} {tl[1]:.6g})" if tl else "no tail: fewer than 11 samples)")
        elif name == "setup_s":
            line += f"  (median of {len(res['setup_s'])}: " + \
                    ", ".join(f"{x:.3f}" for x in res["setup_s"]) + ")"
        print(line)
    if a.trace:
        shares(a.workload, metrics)
    print("  fingerprint: " + json.dumps(fp, sort_keys=True))


def shares(workload, m):
    """Task-time split of one traced op, and the layer the workload was
    chosen to load."""
    # paper_csv scans the ratings once per pipeline; incremental_snapshot's
    # isolated scan is its batch, which the commit reads once.
    scan = m["sources.task_s"] * (2 if workload == "paper_csv" else 1)
    exchange = m["exchange.shuffle_write_s"] + m["exchange.fetch_wait_s"]
    sink = m["sink.task_s"]
    rest = max(0.0, m["spark.task_s"] - scan - exchange - sink)
    print(f"  task time of the op's pipelines: {m['spark.task_s']:.3f} s = scan {scan:.3f}"
          f" + exchange {exchange:.3f} + join/aggregate/sort {rest:.3f} + sink {sink:.3f}")
    if workload == "paper_csv":
        print(f"  scan is the largest share: {scan > max(exchange, rest, sink)}")
    else:
        q = m["snapshot.commit_s"] + m["snapshot.read_s"]
        print(f"  commit + read exceed the pipelines: {q > m['trace.pipelines_s']} "
              f"({q:.3f} s vs {m['trace.pipelines_s']:.3f} s)")


def main():
    ap = argparse.ArgumentParser(description="MovieRank/MovieRating benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="append the full result as a JSON line here")
    a = ap.parse_args()
    units = declared("end_to_end" if a.trace == 0 else "per_layer")

    phases = {}
    t0 = time.time()
    cp, flags, digest = build()
    phases["build"], t0 = time.time() - t0, time.time()
    deadline = t0 + DEADLINE_S
    data, meta = inputs(a.workload, a.seed, a.seconds)
    phases["inputs"], t0 = time.time() - t0, time.time()
    cores = min(4, len(os.sched_getaffinity(0)))
    heap, mem_kb = heap_gb()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    res = launch_harness(cp, flags, heap, a.workload, data, meta, run_dir, a, cores, deadline)
    ops = res["ops"]
    phases["harness"], t0 = time.time() - t0, time.time()
    check_outputs(data, meta, ops)
    shutil.rmtree(run_dir, ignore_errors=True)
    phases["check"] = time.time() - t0

    metrics = end_to_end(res, meta) if a.trace == 0 else per_layer(res, units)
    if set(metrics) != set(units):
        fail(4, f"metrics {sorted(metrics)} differ from BENCHMARK.json's {sorted(units)}")
    fp = fingerprint(res, heap, mem_kb, cores, digest)
    report(a, res, meta, metrics, units, ops, fp)
    print("  wall: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()) +
          f" (of which set-up {sum(res['setup_s']):.1f} s, measuring {res['measured_s']:.1f} s)")
    failed = sum(not op["correct"] for op in ops)
    out = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
           "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())}}
    if a.record:
        with open(a.record, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                                "fingerprint": fp, "result": out,
                                "setup_s": res["setup_s"],
                                "samples": [op["times"] for op in ops]}) + "\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
