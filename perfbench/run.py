#!/usr/bin/env python3
"""Hourly-ETL and curation benchmark.

    python3 perfbench/run.py --workload etl_small_hours --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the program. The first call builds
the program and the benchmark's JVM side with sbt (into `.bench_build`
and the sbt `target` directories); later calls reuse that build until a
source file changes. The seed only feeds the input generators; the
program sees the generated files. The last line of standard output is
one JSON object with `correct`, `attempted`, `failed` and `metrics`:
the end-to-end metrics with `--trace 0`, the per-layer metrics of a
traced run with `--trace 1`. The exit code is non-zero when an output
check fails or the program cannot be built.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import landing  # noqa: E402
import trace  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 165

WORKLOADS = {
    # many small hours: the fixed per-hour cost (metadata reads and
    # appends, upsert probes, whole-table rewrites) dominates
    "etl_small_hours": {"kind": "etl", "run": landing.Sizing(3, 1000, 4),
                        "warmup": landing.Sizing(2, 1000, 4)},
    # few large hours: parsing, keygen, the dedup shuffle and big upsert
    # batches dominate
    "etl_large_hours": {"kind": "etl", "run": landing.Sizing(2, 20000, 16),
                        "warmup": landing.Sizing(2, 2000, 16)},
    # registry curation queries; no ETL layer runs. The warm-up writes
    # the query results over a smaller corpus from the same generator and
    # seed, and the oracle check reads them.
    "curation_corpus": {"kind": "curation", "run": (800, 400), "check": (200, 100)},
}

LAYERS = ("jobs", "sources", "operators", "sinks", "meta",
          "ext.dedup", "ext.text", "ext.similarity")
QUERIES = ("docs_minhash_pairs", "emb_semantic_dedup", "docs_decontaminate_cross",
           "docs_embed_knn")

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log("perfbench: " + msg)
    sys.exit(2)


# -- build ---------------------------------------------------------------

def _newest_source():
    newest = 0.0
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            for f in files:
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources next to the benchmark (build.sbt, src/main/scala)")
    stamp = os.path.join(BUILD, "perfbench.classpath")
    if os.path.isfile(stamp) and os.path.getmtime(stamp) >= _newest_source():
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    flags = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
             "-Dsbt.log.noformat=true", "-Dsbt.supershell=false"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos):
        flags += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    log("perfbench: building with sbt ...")
    with open(os.path.join(BUILD, "sbt.log"), "w") as out:
        p = subprocess.run(["sbt", "--batch"] + flags + ["export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and os.pathsep in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:])
        fail("build failed (sbt exit %d)" % p.returncode)
    with open(stamp, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


# -- inputs --------------------------------------------------------------

def make_inputs(name, seed, work):
    """Generate the run, warm-up (and check) inputs; return JVM args and
    what the checks need."""
    w = WORKLOADS[name]
    if w["kind"] == "etl":
        run = landing.Landing(seed, w["run"])
        warm = landing.Landing(seed + 7919, w["warmup"])
        run.write(os.path.join(work, "landing"))
        warm.write(os.path.join(work, "landing-warmup"))
        args = ["--workload", "etl", "--input", os.path.join(work, "landing"),
                "--warmup", os.path.join(work, "landing-warmup"),
                "--hours", str(w["run"].hours), "--warmup-hours", str(w["warmup"].hours)]
        return args, {"expected": landing.expected_state(run), "records": run.lines,
                      "lines": run.lines}
    docs, vecs = w["run"]
    corpus.write(os.path.join(work, "corpus"), seed, docs, vecs)
    check = os.path.join(work, "corpus-check")
    corpus.write(check, seed, *w["check"])
    args = ["--workload", "curation", "--input", os.path.join(work, "corpus"),
            "--warmup", check]
    return args, {"records": docs, "check_dir": check}


def run_jvm(classpath, args, work, seconds, traced):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-Djava.io.tmpdir=" + tmp] + opens
           + ["-cp", classpath, "perfbench.BenchMain"] + args
           + ["--work", work, "--seconds", str(seconds), "--trace", "1" if traced else "0",
              "--out", out])
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        try:
            p = subprocess.run(cmd, cwd=work, stdout=jlog, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p = None
    if p is None or p.returncode != 0 or not os.path.isfile(out):
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-6000:])
        fail("the JVM side %s" % ("timed out" if p is None else "exited with %d" % p.returncode))
    with open(out) as f:
        return json.load(f)


# -- checks --------------------------------------------------------------

def check_etl(result, info):
    """(problems, attempted, failed, leaked) over every run's end state.

    Well-formed events must land exactly as the model says. Malformed
    lines that Spark parses partially keep their discriminator and can
    pass the entity split; such rows are the program's known leak. The
    leak is tolerated, not required: a handler may insert up to the
    staged malformed rows of its hour and entity on top of the model's
    count, and a table may hold up to its staged malformed rows with a
    null entity id. `leaked` is the most such warehouse rows in a run."""
    problems, attempted, failed, leaked = [], 0, 0, 0
    expected = info["expected"]
    for kind in ("runs", "traced"):
        for i, r in enumerate(result[kind]):
            st = r["state"]
            attempted += len(expected["handler"])
            failed += r["thrown"] + sum(1 for h in st["handler"] if h[3])
            malformed = {(h, t): n for h, t, n in st["malformed"]}
            leaked = max(leaked, sum(x["partial_rows"] for x in st["tables"].values()))

            def problem(part, got, want):
                problems.append("%s[%d] %s: got %s, want %s" % (
                    kind, i, part, json.dumps(got)[:300], json.dumps(want)[:300]))

            tables = {t: {k: v for k, v in x.items() if k != "partial_rows"}
                      for t, x in st["tables"].items()}
            if tables != expected["tables"]:
                problem("tables", tables, expected["tables"])
            if st["ingestor"] != expected["ingestor"]:
                problem("ingestor", st["ingestor"], expected["ingestor"])
            handler_ok = len(st["handler"]) == len(expected["handler"]) and all(
                (gh, gt, gbad) == (h, t, bad) and n <= gn <= n + malformed.get((h, t), 0)
                for (gh, gt, gn, gbad), (h, t, n, bad) in zip(st["handler"], expected["handler"]))
            if not handler_ok:
                problem("handler", st["handler"], expected["handler"])
            for t, x in st["tables"].items():
                staged = sum(n for (_, tt), n in malformed.items() if tt == t)
                if x["partial_rows"] > staged:
                    problems.append("%s[%d] %s: %d partial rows, %d staged malformed rows" % (
                        kind, i, t, x["partial_rows"], staged))
    return problems, attempted, failed, leaked


def check_curation(result, info):
    """(problems, attempted, failed, 0): every query's warm-up result
    against its oracle, every query forced in every run, and the same
    row counts in every run."""
    problems, attempted, failed = [], 0, 0
    verdicts = corpus.oracle_check(info["check_dir"], result["results"], result["oracle"])
    problems += ["oracle %s: %s" % (q, v) for q, v in sorted(verdicts.items()) if v]
    missing = set(QUERIES) - set(verdicts)
    problems += ["oracle %s: not checked" % q for q in sorted(missing)]
    first = None
    for kind in ("runs", "traced"):
        for i, r in enumerate(result[kind]):
            attempted += len(r["rows"])
            failed += r["thrown"]
            if r["thrown"] or None in r["rows"].values():
                problems.append("%s[%d] queries failed: %s" % (
                    kind, i, sorted(q for q, n in r["rows"].items() if n is None)))
            if first is None:
                first = r["rows"]
            elif r["rows"] != first:
                problems.append("%s[%d] row counts %s differ from %s" % (kind, i, r["rows"], first))
    return problems, attempted, failed, 0


# -- metrics -------------------------------------------------------------

def percentile(xs, q):
    """Inclusive quantile, as statistics.quantiles(method='inclusive')."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def end_to_end(result, info):
    runs = result["runs"]
    run_s = statistics.median(r["run_s"] for r in runs)
    steps = [s for r in runs for s in r["steps"]]
    return {
        "setup_s": (statistics.median(result["setup_s"]), "s"),
        "run_s": (run_s, "s"),
        "records_per_s": (info["records"] / run_s, "1/s"),
        "hour_p50_s": (statistics.median(steps), "s"),
        "hour_p90_s": (percentile(steps, 0.9), "s"),
        "heap_live_mb": (statistics.median(r["heap_live_mb"] for r in runs), "MiB"),
    }, {"runs": len(runs), "steps": len(steps)}


def traced_metrics(r, info):
    """Per-layer metrics of one traced run."""
    spans = r["trace"]["spans"]
    wall = r["run_s"]
    layers = trace.layer_totals(spans)
    m = {}
    for name in LAYERS:
        t = layers.get(name, {})
        m[name + ".busy_s"] = (t.get("busy_s", 0.0), "s")
        m[name + ".share"] = (t.get("busy_s", 0.0) / wall, "ratio")
        m[name + ".jobs"] = (t.get("jobs", 0), "count")
        m[name + ".planning_s"] = (t.get("planning_ms", 0) / 1e3, "s")
        m[name + ".task_s"] = (t.get("task_ms", 0) / 1e3, "s")
        m[name + ".gc_s"] = (t.get("gc_ms", 0) / 1e3, "s")
        m[name + ".shuffle_bytes"] = (t.get("shuffle_bytes", 0), "bytes")
        m[name + ".spill_bytes"] = (t.get("spill_bytes", 0), "bytes")
    m["meta.calls"] = (layers.get("meta", {}).get("calls", 0), "count")
    probe = r.get("probe", {})
    io = r.get("io", {})
    lines = info.get("lines", 0)
    m["sources.list_s"] = (trace.name_totals(spans, "sources.list")["duration_s"], "s")
    m["sources.read_stage_s"] = (trace.name_totals(spans, "sources.read_stage")["duration_s"], "s")
    m["sources.input_bytes"] = (layers.get("sources", {}).get("input_bytes", 0), "bytes")
    m["sources.good_row_ratio"] = (probe.get("parsed_rows", 0) / lines if lines else 0.0, "ratio")
    m["operators.normalize_s"] = (probe.get("normalize_s", 0.0), "s")
    m["operators.keygen_s"] = (probe.get("keygen_s", 0.0), "s")
    m["operators.dedup_s"] = (probe.get("dedup_s", 0.0), "s")
    m["operators.dedup_kept_ratio"] = (probe.get("dedup_kept_ratio", 0.0), "ratio")
    upsert = trace.name_totals(spans, "sinks.upsert")
    batch_rows = sum(h[2] for h in r["state"]["handler"]) if "state" in r else 0
    m["sinks.upsert_s"] = (upsert["duration_s"], "s")
    m["sinks.promote_s"] = (io.get("promote_s", 0.0), "s")
    m["sinks.files_written"] = (io.get("files_written", 0), "count")
    m["sinks.write_amplification"] = (
        upsert["records_written"] / batch_rows if batch_rows else 0.0, "ratio")
    for q in QUERIES:
        construct = trace.name_totals(spans, q + ".construct")
        force = trace.name_totals(spans, q + ".force")
        planning = force["planning_ms"] / 1e3
        m["ext.%s.construct_s" % q] = (construct["duration_s"], "s")
        m["ext.%s.planning_s" % q] = (planning, "s")
        m["ext.%s.exec_s" % q] = (force["duration_s"] - planning, "s")
    m["trace.coverage"] = (trace.coverage(spans, wall), "ratio")
    return m


def per_layer(result, info):
    per_run = [traced_metrics(r, info) for r in result["traced"]]
    m = {k: (statistics.median(p[k][0] for p in per_run), v[1]) for k, v in per_run[0].items()}
    untraced = statistics.median(r["run_s"] for r in result["runs"])
    traced = statistics.median(r["run_s"] for r in result["traced"])
    m["trace.overhead_s"] = (traced - untraced, "s")
    # computed once per invocation, outside the runs
    mh = result.get("minhash", {})
    m["ext.dedup.candidates"] = (mh.get("candidates", 0), "count")
    m["ext.dedup.survivor_ratio"] = (mh.get("survivor_ratio", 0.0), "ratio")
    return m, {"traced_runs": len(per_run), "untraced_runs": len(result["runs"])}


def main(argv=None):
    started = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    classpath = build()
    work = os.path.join(BUILD, "work", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        jvm_args, info = make_inputs(a.workload, a.seed, work)
        log("perfbench: inputs generated in %.1f s" % (time.time() - t0))
        result = run_jvm(classpath, jvm_args, work, a.seconds, a.trace == 1)
        if WORKLOADS[a.workload]["kind"] == "etl":
            problems, attempted, failed, leaked = check_etl(result, info)
        else:
            problems, attempted, failed, leaked = check_curation(result, info)
        metrics, counts = (per_layer if a.trace else end_to_end)(result, info)
        if a.trace:
            metrics["sources.leaked_rows"] = (leaked, "count")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for p in problems:
        log("perfbench: CHECK FAILED " + p)
    if leaked:
        log("perfbench: known defect: %d malformed lines were partially parsed and "
            "reached the warehouse (see perfbench/README.md)" % leaked)
    print("workload %s, seed %d, %s; set-ups %s s; runs %s s" % (
        a.workload, a.seed, ", ".join("%s %d" % kv for kv in counts.items()),
        " ".join("%.2f" % x for x in result["setup_s"]),
        " ".join("%.2f" % r["run_s"] for r in result["traced"] + result["runs"])))
    for k, (v, unit) in metrics.items():
        print("  %-48s %16.6f %s" % (k, v, unit))
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    log("perfbench: done in %.1f s" % (time.time() - started))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
