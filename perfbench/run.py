#!/usr/bin/env python3
"""The repository's benchmark: one workload per invocation, in one JVM.

    python3 perfbench/run.py --workload loop-gates --seed 1 --seconds 15 --trace 0

Run from the repository root. The first invocation in a checkout compiles
the program with the benchmark's runner (perfbench/harness) and generates
the fixture tables; later invocations reuse both. Each run then:

1. writes its plan and, for ``etl-listings``, a seeded HTML corpus;
2. starts the runner JVM (``perfbench.Runner``), which sets up a session,
   runs one warm-up pass that also writes every output to be checked, and
   then ``--seconds`` worth of timed passes (see ``WORKLOADS``);
3. checks the outputs: query results against the DuckDB oracle with
   ``tools/check.py``, pipeline outputs against the generator's ground truth;
4. prints a report and, as its last line, one JSON object with the verdict
   and the metrics: end-to-end ones untraced (``--trace 0``), per-layer ones
   traced (``--trace 1``).

See perfbench/README.md for why each workload exists.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import fixtures  # noqa: E402
import metrics  # noqa: E402

FIXTURE_SF, FIXTURE_SEED = 0.01, 42
LISTING_DAYS, LISTINGS_PER_DAY = 30, 200

# ``pass_s`` is the wall time one timed pass took on the 4-core machine of
# perfbench/README.md when the benchmark was added. A run makes
# round(--seconds / pass_s) timed passes, at least three: a fixed count per
# workload, so every run's median pass sits at the same point of the JIT
# warm-up curve, whatever the code's speed.
WORKLOADS = {
    "loop-gates": {"kind": "queries", "pass_s": 2.5, "queries": [
        "q329_bpe_merge_loop"]},
    "etl-listings": {"kind": "etl", "pass_s": 3.0, "queries": [
        "q191_extract_listings_census"]},
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
HARNESS = os.path.join(HERE, "harness")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the runner's build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the runner once per source state; return the
    runner's classpath."""
    stamp_file = os.path.join(STATE, "build", "stamp")
    cp_file = os.path.join(STATE, "build", "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
                   + (f" -Dsbt.repository.config={repos}" if os.path.exists(repos) else ""))
    log("[perfbench] building program + runner with sbt")
    tmp = os.path.join(STATE, "build", "tmp")  # keeps sbt's scratch files in the checkout
    os.makedirs(tmp, exist_ok=True)
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "-Dsbt.boot.lock=false", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
         "-J-XX:-UsePerfData", "compile", "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, capture_output=True, text=True, timeout=840)
    if r.returncode != 0:
        log(r.stdout[-4000:] + r.stderr[-2000:])
        raise SystemExit("[perfbench] build failed")
    cp = [l for l in r.stdout.splitlines() if "perfbench/harness/target" in l][-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def fixture_dir():
    """The fixture tables, generated on first use and again whenever the
    generator's source changes."""
    with open(fixtures.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(STATE, "data", f"sf{FIXTURE_SF}-seed{FIXTURE_SEED}-{version}")
    done = os.path.join(d, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        fixtures.write_tables(d, FIXTURE_SF, FIXTURE_SEED)
        open(done, "w").close()
    return d


def check_queries(verify_dir, names):
    """Compare each query's warm-up output with the DuckDB oracle using
    tools/check.py; return {name: failure reason} for the failures."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), verify_dir],
                       capture_output=True, text=True, timeout=150)
    passed = {l.split()[1] for l in r.stdout.splitlines() if l.startswith("PASS ")}
    fails = {}
    for l in r.stdout.splitlines():
        if l.startswith("FAIL "):
            name, _, why = l[5:].partition(":")
            fails[name.strip()] = why.strip()
    for n in names:
        if n not in passed and n not in fails:
            fails[n] = "no oracle comparison ran" + (f" ({r.stderr.strip()[-300:]})" if r.stderr else "")
    return fails


def check_listings(res, truth, parquet_dir):
    """Compare every timed pass's read-back with the corpus ground truth."""
    fails = {}
    expect = {"rows": truth["listings"], "csv_rows": truth["listings"],
              "price_sum": truth["price_sum"], "partitions": len(truth["dates"])}
    for f, n in truth["null"].items():
        expect[f"null_{f}"] = n
        expect[f"csv_na_{f}"] = n
    for rb in res["readback"]:
        bad = {k: (rb.get(k), v) for k, v in expect.items() if rb.get(k) != v}
        if bad:
            fails[f"Listings.readback pass {rb['pass']}"] = f"got/expected {bad}"
    dts = sorted(d[3:] for d in (os.listdir(parquet_dir) if os.path.isdir(parquet_dir) else [])
                 if d.startswith("dt="))
    if dts != truth["dates"]:
        fails["Listings.parquet dt= partitions"] = f"{len(dts)} partitions, expected {len(truth['dates'])}"
    return fails, len(res["readback"]) + 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="timed work per run, as passes of the workload's nominal pass time")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    for need in ("src/main/scala/graft", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"[perfbench] {need} not found: run from a checkout of the repository")

    w = WORKLOADS[args.workload]
    cp = build()
    sf_dir = fixture_dir()
    run_dir = os.path.join(STATE, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        plan = {"workload": args.workload, "kind": w["kind"], "sf_dir": sf_dir,
                "out_dir": run_dir, "trace": args.trace,
                "passes": max(3, round(args.seconds / w["pass_s"])),
                "cpus": len(os.sched_getaffinity(0)), "seed": args.seed,
                "queries": ",".join(w["queries"])}
        items = len(w["queries"])
        if w["kind"] == "etl":
            plan["listings_dir"] = os.path.join(run_dir, "html")
            truth = fixtures.write_listings(plan["listings_dir"], LISTING_DAYS,
                                            LISTINGS_PER_DAY, args.seed)
            items = truth["listings"]
        plan_file = os.path.join(run_dir, "plan.properties")
        with open(plan_file, "w") as f:
            f.writelines(f"{k}={v}\n" for k, v in plan.items())

        # A fixed-size heap: with a growable one, peak RSS mostly records
        # when the collector chose to grow it.
        cmd = (["java", "-Xms1g", "-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}"]
               + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Runner", plan_file])
        spawn = time.time()
        with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
            jvm = subprocess.Popen(cmd, cwd=run_dir, stdout=jlog, stderr=subprocess.STDOUT)
            try:
                code = jvm.wait(timeout=170)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
                code = "timeout"
        if code != 0:
            with open(os.path.join(run_dir, "jvm.log")) as f:
                log(f.read()[-4000:])
            raise SystemExit(f"[perfbench] runner JVM failed ({code})")
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)

        fails = check_queries(os.path.join(run_dir, "verify"), w["queries"])
        checks = len(w["queries"])
        if w["kind"] == "etl":
            more, n = check_listings(res, truth, os.path.join(run_dir, "sink", "parquet"))
            fails.update(more)
            checks += n
        # A warm-up failure is reported; it counts as failed through the
        # check of the output it did not write.
        errors = [(f"{s['op']} pass {s['pass']}", s["error"])
                  for s in res["samples"] if s["error"]]
        attempted = len(res["samples"]) + checks
        failed = len(errors) + len(fails)
        errors += [(f"{s['op']} warm-up", s["error"]) for s in res["warmup"] if s["error"]]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "setup": {"jvm_start_s": res["jvm_start"] - spawn,
                        "session_s": res["session_ready"] - res["main_start"],
                        "warmup_s": [{s["op"]: s["s"]} for s in res["warmup"]]},
              "failures": [{"op": op, **e} for op, e in errors]
              + [{"check": k, "reason": v} for k, v in fails.items()]}
    if args.trace:
        queries = metrics.per_query_layers(res)
        values = metrics.per_layer(res, queries)
        report["per_query"] = queries
        report["spans"] = metrics.spans(res)
        units = {m["name"]: m["unit"] for m in bench_spec()["per_layer"]}
    else:
        values, counts = metrics.end_to_end(res, spawn, items)
        report["counts"] = counts
        report["passes_s"] = [p["end"] - p["start"] for p in res["passes"]]
        units = {m["name"]: m["unit"] for m in bench_spec()["end_to_end"]}
    report["metrics"] = values
    os.makedirs(os.path.join(STATE, "reports"), exist_ok=True)
    with open(os.path.join(STATE, "reports",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)

    for op, e in errors:
        print(f"FAILED {op}: {e['root_class']}: {e['root_message']} (raised as {e['class']})")
    for k, v in fails.items():
        print(f"WRONG {k}: {v}")
    if not args.trace:
        tail = (f"query p{counts['tail_percentile']} = {counts['tail_s']:.6g} s"
                if counts["tail_percentile"] else "too few samples for a latency tail")
        print(f"# {args.workload}: {counts['passes']} passes, {counts['samples']} query samples, {tail}")
    for k in units:
        print(f"{args.workload} {k} = {values[k]:.6g} {units[k]}")
    print(f"{args.workload} correct = {failed == 0}, failed_frac = {failed}/{attempted} "
          f"= {failed / attempted:.4g}")
    # A failed sample makes a latency infinite, which JSON cannot carry: such
    # a value is written as null beside "correct": false.
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": values[k] if math.isfinite(values[k]) else None,
                                      "unit": units[k]} for k in units}}))


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    main()
