#!/usr/bin/env python3
"""The engine's benchmark: one command, two workloads, output checks.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
JVM harness with sbt into the build directory ($CARGO_TARGET_DIR, else
.bench_build); later runs reuse the build while the sources are
unchanged. Inputs are generated from the seed and cached per seed.

Each run is one JVM (`perfbench.Main`) with one `local[<cores>]` session
and one closed-loop client: a cold pass over the workload's jobs, a few
untimed warm-up passes, then a fixed number of timed passes derived from
S. `setup_s` is that JVM's process start to a ready session. The last
pass's outputs are checked against the DuckDB oracle (or, for wordcount,
the corpus replay). The last stdout line is the result JSON; with
--trace 1 it holds the per-layer metrics of a traced run instead of the
end-to-end ones, and a full report (spans, per-job numbers) is written
under the build directory.
"""
import argparse
import collections
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import upscale  # noqa: E402

ROOT = os.path.dirname(HERE)
BASE_DATA = os.path.join(HERE, "data", "sf0.01")
CORPUS_BYTES = 5_000_000

# BENCHMARK.json names the workloads and the metrics with their units;
# layers.json gives each workload's run: its jobs, the tables its session
# registers, its untimed warm-up passes (they let the JIT settle) and its
# nominal pass seconds. The timed passes are --seconds / nominal pass
# seconds rounded up, a fixed count, so both sides of a comparison do the
# same work.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
with open(os.path.join(HERE, "layers.json")) as _fh:
    LAYERS = json.load(_fh)
Workload = collections.namedtuple("Workload", "jobs tables warmup nominal_pass_s")
WORKLOADS = {w["name"]: Workload(**LAYERS["workloads"][w["name"]]["run"])
             for w in SPEC["workloads"]}
# The files the generated inputs and the cached oracle results depend on.
INPUT_SOURCES = [os.path.join(HERE, f) for f in ("corpus.py", "upscale.py", "oracle.py")]

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for dp, _, fs in os.walk(r):
            files += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def build(bdir):
    """Compile engine + harness with sbt unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources under src/main/scala; run from a checkout of the repository")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set; the build and the runs use $SPARK_HOME/jars")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(bdir, "build.stamp")
    classes = os.path.join(bdir, "sbt", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() and os.path.isdir(classes):
        return classes
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, PERFBENCH_BUILD=bdir)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    with open(os.path.join(bdir, "build.log"), "w") as log:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                            env=env, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        fail(f"build failed (see {bdir}/build.log)", 3)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classes


def inputs_digest():
    """Hash of the input generators, the oracle and the base tables: the
    cached inputs and oracle results are keyed on it, so a change to any
    of them regenerates both."""
    h = hashlib.sha256()
    files = INPUT_SOURCES + sorted(os.path.join(BASE_DATA, f) for f in os.listdir(BASE_DATA))
    for f in files:
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def prepare_inputs(workload, seed, bdir):
    """(data dir, cache key for expected outputs, items per pass)."""
    digest = inputs_digest()
    d = os.path.join(bdir, "inputs", workload, f"{seed}-{digest}")
    done = os.path.join(d, "done.json")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        if workload == "wordcount":
            corpus.generate(d, seed, CORPUS_BYTES)
            counts = corpus.expected_counts(d)
            with open(os.path.join(d, "expected.json"), "w") as fh:
                json.dump({w.hex(): n for w, n in counts.items()}, fh)
            items = sum(counts.values())
        else:
            items = upscale.upscale(BASE_DATA, d, seed)
        with open(done, "w") as fh:
            json.dump({"items": items}, fh)
    with open(done) as fh:
        return d, f"{workload}-{seed}-{digest}", json.load(fh)["items"]


def jvm(classes, run_dir, args, timeout):
    """Run perfbench.Main; returns its result JSON."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(run_dir, f"result-{time.monotonic_ns()}.json")
    spark_jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-cp", f"{classes}:{spark_jars}",
        "perfbench.Main", "--result", result] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark"))
    log_path = os.path.join(os.path.dirname(os.path.dirname(run_dir)), "logs",
                            os.path.basename(run_dir) + ".log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "a") as log:
        try:
            rc = subprocess.run(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            fail(f"JVM timed out after {timeout} s (log: {log_path})", 4)
    if rc != 0 or not os.path.exists(result):
        fail(f"JVM exited with {rc} (log: {log_path})", 4)
    with open(result) as fh:
        return json.load(fh)


def check(workload, res, data, data_key, out, bdir):
    """Per job: (ok, message), for the outputs of the last pass."""
    if workload == "wordcount":
        with open(os.path.join(data, "expected.json")) as fh:
            exp = {bytes.fromhex(w): n for w, n in json.load(fh).items()}
        return {"wordcount": oracle.check_counts(os.path.join(out, "wordcount"), exp)}
    cache = os.path.join(bdir, "expected")
    results = {}
    for job in WORKLOADS[workload].jobs:
        sql = res["oracle_sql"].get(job)
        if sql is None:
            results[job] = (False, "no oracle")
            continue
        exp = oracle.expected(data, data_key, sql, cache)
        results[job] = oracle.check_table(os.path.join(out, job), exp)
    return results


def end_to_end(res, items, checks):
    warm = [p for p in res["passes"] if p["phase"] == "timed"]
    jobs = [j for j in res["jobs"] if j["phase"] == "timed"]
    tail, pct, n = metrics.tail([j["wall_s"] for j in jobs])
    m = {
        "setup_s": res["setup_s"],
        "throughput": items / metrics.median([p["wall_s"] for p in warm]),
        "job_p50_s": metrics.median([j["wall_s"] for j in jobs]),
        "job_tail_s": tail,
        "correct_ratio": sum(ok for ok, _ in checks.values()) / len(checks),
    }
    info = {"tail_percentile": pct, "tail_samples": n,
            "timed_passes_s": [round(p["wall_s"], 4) for p in warm],
            "items_per_pass": items}
    return with_units(m, SPEC["end_to_end"]), info


def with_units(values, spec):
    """{name: (value, unit)} for every metric BENCHMARK.json lists."""
    return {x["name"]: (values[x["name"]], x["unit"]) for x in spec}


def per_layer(workload, res, items):
    dump = res["trace"]
    traced = [p for p in res["passes"] if p["phase"] == "timed" and p["traced"]]
    plain = [p for p in res["passes"] if p["phase"] == "timed" and not p["traced"]]
    ivs = {int(s["name"][5:]): (s["start"], s["end"]) for s in dump["spans"]
           if s["name"].startswith("pass:")}
    rows = [metrics.pass_layers(ivs[p["pass"]], dump, res["cores"]) for p in traced]
    m = {k: metrics.median([r[k] for r in rows]) for k in rows[0]}
    # streaming.* from the warm runs of the traced stream probe (curation).
    probe = [metrics.pass_layers((p["start"], p["end"]), dump, res["cores"])
             for p in res["stream_probe"][1:]]
    for k in m:
        if k.startswith("streaming."):
            m[k] = metrics.median([r[k] for r in probe]) if probe else 0.0
    # Self times come from one pass, the traced pass of median wall time,
    # so that they add up to that pass's wall time exactly.
    mid = sorted(rows, key=lambda r: r["trace.pass_s"])[(len(rows) - 1) // 2]
    m.update({k: v for k, v in mid.items() if k.startswith("trace.")})
    for k, v in res["kernels"].items():
        m[f"functions.{k}.ns_per_row"] = v
    core = {s: 0.0 for s in metrics.STAGES}
    if res["core_prefix"]:
        core = metrics.prefix_attribution(res["core_prefix"])
    for s, v in core.items():
        m[f"core.{s}_s"] = v
    wc = workload == "wordcount"
    m["core.shuffle_bytes"] = m["exec.shuffle_write_bytes"] if wc else 0
    m["core.combine_ratio"] = m["exec.shuffle_write_records"] / items if wc else 0.0
    by_pass = {}
    for j in res["jobs"]:
        if j["phase"] == "timed":
            by_pass[j["pass"]] = by_pass.get(j["pass"], 0) + j["cache_left"]
    m["queries.cache_left"] = max(by_pass.values()) if workload != "wordcount" else 0
    n_warm = len(traced) + len(plain)
    m["jvm.gc_s"] = res["jvm_gc_ms"] / 1e3 / n_warm
    m["jvm.gc_count"] = res["jvm_gc_count"] / n_warm
    m["trace.overhead_ratio"] = (metrics.median([p["wall_s"] for p in traced])
                                 / metrics.median([p["wall_s"] for p in plain]))
    attempted = len(res["jobs"])
    m["failed_ratio"] = sum(1 for j in res["jobs"] if j["error"]) / attempted
    m["cold_pass_s"] = res["cold_pass_s"]
    m["live_heap_mb"] = res["live_heap_mb"]
    per_job = {}
    for j in res["jobs"]:
        if j["phase"] == "timed":
            e = per_job.setdefault(j["job"], {"wall_s": [], "cache_left": []})
            e["wall_s"].append(j["wall_s"])
            e["cache_left"].append(j["cache_left"])
    return with_units(m, SPEC["per_layer"]), per_job


def passes(wl, seconds, traced):
    """Timed passes: a fixed count per workload and --seconds; a traced
    run needs at least one traced and one untraced pass."""
    return max(math.ceil(seconds / wl.nominal_pass_s), 2 if traced else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    wl = WORKLOADS[a.workload]
    bdir = build_dir()
    classes = build(bdir)
    data, data_key, items = prepare_inputs(a.workload, a.seed, bdir)
    run_dir = os.path.join(bdir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    out = os.path.join(run_dir, "out")
    os.makedirs(out)
    try:
        res = jvm(classes, run_dir, [
            "--workload", a.workload, "--data", data, "--out", out,
            "--jobs", ",".join(wl.jobs), "--tables", ",".join(wl.tables), "--seed", str(a.seed),
            "--warmup", str(wl.warmup), "--passes", str(passes(wl, a.seconds, a.trace)),
            "--trace", str(a.trace)], timeout=150)
        checks = check(a.workload, res, data, data_key, out, bdir)
        attempted = len(res["jobs"])
        failed = sum(1 for j in res["jobs"] if j["error"])
        correct = failed == 0 and all(ok for ok, _ in checks.values())
        if a.trace:
            m, per_job = per_layer(a.workload, res, items)
            report = os.path.join(bdir, "reports", f"{a.workload}-{a.seed}-trace.json")
            os.makedirs(os.path.dirname(report), exist_ok=True)
            with open(report, "w") as fh:
                json.dump({"metrics": m, "per_job": per_job, "trace": res["trace"],
                           "core_prefix": res["core_prefix"]}, fh)
            print(json.dumps({"report": report, "per_job": per_job}))
        else:
            m, info = end_to_end(res, items, checks)
            print(json.dumps(dict(info, checks={k: v[1] for k, v in checks.items()},
                                  errors=[j for j in res["jobs"] if j["error"]][:3])))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}))


if __name__ == "__main__":
    main()
