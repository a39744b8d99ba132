#!/usr/bin/env python3
"""chbench: one workload of the graft engine benchmark, from a seed.

    python3 chbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The first run builds
the engine and the harness with sbt (cached by a content hash of the
sources); inputs are generated from the seed by gen.py (cached per seed
and generator, not timed). Each run launches one measured JVM
(chbench.Main), which sets up from scratch and then runs the workload's
ops for S seconds. The last line of stdout is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. See README.md.
"""
import argparse
import collections
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

WORKLOADS = ["point_sql", "olap_scan", "text_vector", "stream_ingest"]
# ops in one rotation of each workload's op mix; the timed loop runs ops in
# rotation order after a warm-up of WARMUP whole rotations
ROTATION = {"point_sql": 6, "olap_scan": 12, "text_vector": 4, "stream_ingest": 1}
WARMUP = {"point_sql": 10, "olap_scan": 1, "text_vector": 3, "stream_ingest": 5}
# ops generated per run: more than the JVM can run in the timed window
# even at several times today's speed
OPS_PER_S = {"point_sql": 20, "olap_scan": 12, "text_vector": 12, "stream_ingest": 6}
HEAP = "3g"
# a run must end within 180 s of its start (after the build): the measured
# JVM is killed at BUDGET_S, and its timed loop ends early, with fewer
# rotations, when the next rotation would run into the last TEARDOWN_S
BUDGET_S, TEARDOWN_S = 170, 25

JAVA_OPTS = [
    "-XX:+UseParallelGC", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC"] + [
    x for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar"]
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"chbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    for top in [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
                os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
                os.path.join(BENCH, "project", "build.properties"), os.path.join(BENCH, "src")]:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Build engine and harness with sbt once per source state; return the
    runtime classpath."""
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    stamp_file = os.path.join(build_dir, "chbench.classpath.json")
    stamp = source_hash()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true")
    log = os.path.join(build_dir, "chbench.build.log")
    with open(log, "w") as f:
        # no sbt server and no JVM perf files: the build writes only under
        # the checkout (and sbt's own caches)
        tmp = os.path.join(build_dir, "sbt-tmp")
        os.makedirs(tmp, exist_ok=True)
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
                            "export chbench/Runtime/fullClasspath"],
                           cwd=BENCH, env=env, stdout=f, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if r.returncode != 0 or not lines or ":" not in lines[-1]:
        fail(f"build failed, see {log}")
    cp = lines[-1]
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def save_expected(d, expected):
    """expected.json holds each op's digest; the rows of results with
    floating values go to lines.json once per digest."""
    path = os.path.join(d, "lines.json")
    lines = {}
    if os.path.exists(path):
        with open(path) as f:
            lines = json.load(f)
    for e in expected:
        if e and "lines" in e:
            lines[e["sha256"]] = e.pop("lines")
    with open(os.path.join(d, "expected.json"), "w") as f:
        json.dump(expected, f)
    with open(path, "w") as f:
        json.dump(lines, f)


def inputs(workload, seed, n_ops):
    """Generate (or reuse) the inputs of one seed; keep the newest few.
    The directory name holds a hash of gen.py, so an edited generator
    never reuses stale inputs."""
    import gen
    base = os.path.join(ROOT, ".bench_data")
    with open(os.path.join(BENCH, "gen.py"), "rb") as f:
        gen_hash = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(base, f"{workload}-seed{seed}-ops{n_ops}-{gen_hash}")
    if not os.path.exists(os.path.join(d, "ops.json")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        ops, expected = gen.build(workload, seed, n_ops, d)
        save_expected(d, expected)
        with open(os.path.join(d, "ops.json"), "w") as f:
            json.dump(ops, f)
        os.sync()  # no writeback of fresh inputs during the measured run
    os.utime(d)
    old = sorted((os.path.getmtime(os.path.join(base, x)), x) for x in os.listdir(base)
                 if "-seed" in x)
    for _, x in old[:-24]:
        shutil.rmtree(os.path.join(base, x), ignore_errors=True)
    return d


def launch(cp, workload, data, seconds, trace, budget_s):
    tmp = os.path.join(ROOT, ".bench_data", f"tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "spark"))
    out = os.path.join(tmp, "result.json")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark"))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={tmp}", f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}/hadoop",
           *JAVA_OPTS, "-cp", cp, "chbench.Main",
           "--workload", workload, "--data", data, "--ops", os.path.join(data, "ops.json"),
           "--warmup", str(WARMUP[workload] * ROTATION[workload]), "--rotation", str(ROTATION[workload]),
           "--seconds", str(seconds), "--trace", str(trace), "--tmp", tmp, "--out", out,
           "--launch-ns", str(time.monotonic_ns()), "--deadline-s", str(budget_s - TEARDOWN_S)]
    with open(os.path.join(tmp, "jvm.log"), "w") as log:
        r = subprocess.run(cmd, cwd=tmp, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=budget_s)
    if r.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(tmp, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"measured JVM exited with {r.returncode}")
    with open(out) as f:
        res = json.load(f)
    spans = out + ".spans.jsonl"
    if os.path.exists(spans):
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        shutil.copy(spans, os.path.join(ROOT, ".bench_out", f"{workload}.spans.jsonl"))
    shutil.rmtree(tmp, ignore_errors=True)
    return res


def pct(xs, p, weights):
    """Weighted nearest-rank percentile: the smallest value at or below
    which at least p% of the total weight lies (with equal weights, the
    value of rank ceil(p/100 * n))."""
    total, acc = sum(weights), 0.0
    for x, w in sorted(zip(xs, weights)):
        acc += w
        if acc >= total * p / 100 * (1 - 1e-12):
            return x
    return max(xs)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from a checkout of the repository: the engine sources are missing")

    cp = classpath()
    start = time.monotonic()
    rot = ROTATION[a.workload]
    n_ops = rot * (WARMUP[a.workload] + 1 + int(OPS_PER_S[a.workload] * a.seconds) // rot)
    data = inputs(a.workload, a.seed, n_ops)
    with open(os.path.join(data, "ops.json")) as f:
        ops = json.load(f)
    with open(os.path.join(data, "expected.json")) as f:
        expected = json.load(f)
    res = launch(cp, a.workload, data, a.seconds, a.trace,
                 max(BUDGET_S - (time.monotonic() - start), TEARDOWN_S + 30))

    import gen
    expected = gen.expect_oracle(data, ops, expected, res["oracle"])
    with open(os.path.join(data, "lines.json")) as f:
        want_lines = json.load(f)
    want_lines.update((e["sha256"], e["lines"]) for e in expected if e and "lines" in e)
    got_lines = {r["sha256"]: r["lines"] for r in res["warmup"] + res["ops"] if r["lines"]}

    def ok(rec):
        e = expected[rec["i"]]
        if rec["error"] is not None or e is None:
            return False
        if e["rows"] == rec["rows"] and e["sha256"] == rec["sha256"]:
            return True
        return (rec["sha256"] in got_lines and e["sha256"] in want_lines
                and gen.close_enough(got_lines[rec["sha256"]], want_lines[e["sha256"]]))

    if res["timed_s"] < a.seconds:
        print(f"chbench: timed loop ended after {res['timed_s']:.1f} s of {a.seconds:g} s "
              "(time limit or end of the op list)", file=sys.stderr)
    recs = res["ops"]
    warm_ok = all(ok(r) for r in res["warmup"])
    good = sum(ok(r) for r in recs)
    attempted = len(recs)
    if attempted == 0:
        fail("no op completed within the run")
    ms = [r["ms"] for r in recs]
    # each op counts with weight 1 / (timed ops at its position in the
    # rotation), so a partly run last rotation leaves every position's
    # share of the mix equal; over whole rotations all weights are equal
    pos = [(r["i"] - len(res["warmup"])) % ROTATION[a.workload] for r in recs]
    count = collections.Counter(pos)
    w = [1 / count[p] / len(count) for p in pos]  # sums to 1
    mean_op_s = sum(wi * x for wi, x in zip(w, ms)) / 1000
    p90 = pct(ms, 90, w)
    print(f"chbench {a.workload} seed={a.seed}: {attempted} ops, "
          f"{good} correct, warm-up {'ok' if warm_ok else 'FAILED'}; "
          f"p90 has {sum(x > p90 for x in ms)} samples above it")

    if a.trace == 0:
        vals = {
            "latency_p50_ms": pct(ms, 50, w),
            "latency_p90_ms": p90,
            "ops_per_s": 1 / mean_op_s,
            "rows_per_s": sum(wi * r["in_rows"] for wi, r in zip(w, recs)) / mean_op_s,
            "cpu_s_per_op": sum(wi * r["cpu_s"] for wi, r in zip(w, recs)),
            "setup_s": res["setup_s"],
            "live_heap_mb": res["heap_mb"],
            "success_ratio": good / attempted}
        units = "end_to_end"
    else:
        sums = res["metrics"]
        vals = {k: s / n for k, (s, n) in sums.items()}
        cand = sums.get("dedup.candidate_pairs", [0.0])[0]
        vals["dedup.pair_yield"] = sums["dedup.verified_pairs"][0] / cand if cand else 0.0
        vals["host.spin_ms"] = statistics.median(res["spin_ms"]) if res["spin_ms"] else 0.0
        traced = [r["ms"] for r in recs if r["traced"]]
        plain = [r["ms"] for r in recs if not r["traced"]]
        vals["trace.overhead_ms"] = (statistics.median(traced) - statistics.median(plain)
                                     if traced and plain else 0.0)
        units = "per_layer"
    # names and units come from BENCHMARK.json; a metric a workload does not
    # reach (no op recorded it) reads 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = json.load(f)[units]
    metrics = {m["name"]: {"value": vals.get(m["name"], 0.0), "unit": m["unit"]} for m in listed}
    print(json.dumps({"correct": good == attempted and warm_ok, "attempted": attempted,
                      "failed": attempted - good, "metrics": metrics}))


if __name__ == "__main__":
    main()
