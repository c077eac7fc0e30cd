#!/usr/bin/env python3
"""End-to-end benchmark of the AFC batch, the skipping store and curation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --all [--seed <n>] [--seconds <s>]

Run from the repository root. The first run builds the engine and the
harness from source with sbt (offline); later runs reuse the build until a
source file changes. Each run makes its inputs from the seed under
.bench_work/, runs the workload in a fresh JVM, checks the outputs, and
prints one JSON object as its last line of output. --trace 0 reports the
end-to-end metrics; --trace 1 runs the traced composition and reports the
per-layer metrics. --all runs every workload both ways and prints every
metric by name with its unit.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
sys.path.insert(0, HERE)

import analysis  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["afc_nightly", "store_mixed", "curation_batch"]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# What Spark 4 needs on JDK 17 when a session is created outside
# spark-submit (the engine's own build passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def build():
    """Compiles engine + harness once per source state; returns
    (source stamp, classpath)."""
    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not (os.path.isdir(engine) and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        log("engine sources not found under %s: run from a full checkout" % ROOT)
        sys.exit(2)
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(WORK, "build")
    cp_file = os.path.join(out, "classpath-%s.txt" % stamp[:16])
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return stamp, f.read().strip()
    os.makedirs(out, exist_ok=True)
    log("building engine and harness (sbt, first run in this checkout)...")
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    with open(os.path.join(out, "sbt.log"), "w") as logf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, stdout=subprocess.PIPE, stderr=logf, text=True,
                           env=env, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.startswith(os.sep) and ".jar" in l]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:])
        log("build failed (see %s)" % os.path.join(out, "sbt.log"))
        sys.exit(3)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return stamp, lines[-1]


# -------------------------------------------------------------------- run

def jvm(classpath, workload, seed, seconds, trace, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    # only a heap ceiling, so the JVM on a shared machine stays bounded;
    # G1 sizes the heap itself, as it does for the pipeline's own main
    cmd += ["-XX:+UseG1GC", "-Xmx3g", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.local.dir=" + tmp, "-Dspark.hadoop.hadoop.tmp.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-cp", classpath, "perfbench.Harness", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--work", work, "--out", os.path.join(work, "result.json")]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        try:
            p = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise RuntimeError("harness JVM exceeded %d s (log: %s)" % (JVM_TIMEOUT_S, logf.name))
    if p.returncode != 0 or not os.path.exists(os.path.join(work, "result.json")):
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-4000:])
        raise RuntimeError("harness JVM failed (exit %d)" % p.returncode)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def prepare(workload, seed, work):
    """Fresh inputs for one run; returns the expected-outcome manifest."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if workload.startswith("afc_"):
        expected = gen.gen_afc(workload, seed, work)
        spec = {"hash_cols": {r: [list(c) for c in cols] for r, cols in gen.HASH_COLS.items()},
                "tables": {r: list(t) for r, t in gen.TABLES.items()}}
    elif workload == "curation_batch":
        expected = gen.gen_curation(seed, os.path.join(work, "corpus"))
        spec = {}
    else:
        expected, spec = {}, {}
    with open(os.path.join(work, "spec.json"), "w") as f:
        json.dump(spec, f)
    return expected


def verify(workload, expected, observed):
    """(attempted, failed, mismatches) for the run's outputs."""
    bad = []
    if workload.startswith("afc_"):
        attempted = expected["units"]
        arch_diff = set(expected["archived"]) ^ set(observed["archived"])
        rem_diff = set(expected["remaining"]) ^ set(observed["remaining"])
        bad += ["archive: %s" % sorted(arch_diff)] if arch_diff else []
        bad += ["left in input: %s" % sorted(rem_diff)] if rem_diff else []
        failed = len(arch_diff | rem_diff)
        for report, exp in expected["reports"].items():
            obs = observed["reports"].get(report, {})
            want = {"kept": exp["kept"], "exported": exp["kept"], "rejected": exp["rejected"],
                    "duplicates": exp["duplicates"], "days": exp["days"],
                    "audit_days": exp["days"], "hash": exp["hash"]}
            diff = {k: (v, obs.get(k)) for k, v in want.items() if obs.get(k) != v}
            if diff:
                bad.append("%s: %s" % (report, diff))
                failed += 1
        want_exit = 1 if expected["remaining"] or any(
            r["gaps"] for r in expected["reports"].values()) else 0
        if observed["exit_code"] != want_exit:
            bad.append("exit code %s, expected %s" % (observed["exit_code"], want_exit))
            failed += 1
        return attempted, min(failed, attempted), bad
    if workload == "curation_batch":
        # MinHash-LSH is approximate: a few near copies it does not link
        # may stay, down to NEAR_DUP_RECALL_FLOOR of them removed. Every
        # other difference fails: a dropped cluster minimum or clean
        # document, a kept exact copy, a kept document the quality or
        # language gate must drop.
        want, got = set(expected["kept_ids"]), set(observed["kept_ids"])
        wrong = (want - got) | (got - want - set(expected["near_ids"]))
        if wrong:
            bad.append("kept ids differ: %d missing, %d extra outside near-copy clusters"
                       % (len(want - got), len(wrong - (want - got))))
        recall = near_dup_recall(expected, observed)
        missed = (got - want) & set(expected["near_ids"])
        if recall < NEAR_DUP_RECALL_FLOOR:
            bad.append("near-duplicate recall %.4f below %.2f: %d near copies kept"
                       % (recall, NEAR_DUP_RECALL_FLOOR, len(missed)))
            wrong |= missed
        return expected["docs"], len(wrong), bad
    failed = observed["failed"]
    if failed:
        bad.append("%d store ops failed their check" % failed)
    if observed["warmup_failed"]:
        bad.append("%d warm-up ops failed" % observed["warmup_failed"])
    if observed["model_rows"] != observed["store_rows"]:
        bad.append("store holds %d rows, model %d" % (observed["store_rows"], observed["model_rows"]))
    return observed["attempted"], failed, bad


# Share of the planted near copies curation must remove. Runs miss about
# 1e-3 of them (MinHash-LSH is approximate), so a run below this has lost
# near-duplicate removal, not drawn an unlucky hash.
NEAR_DUP_RECALL_FLOOR = 0.99


def near_dup_recall(expected, observed):
    """Share of the near copies that should go which curation removed."""
    near = set(expected["near_ids"])
    droppable = near - set(expected["kept_ids"])
    missed = droppable & set(observed["kept_ids"])
    return 1.0 - len(missed) / len(droppable) if droppable else 1.0


def store_ops(observed):
    ops = observed["ops"]
    reads = [o["ms"] for o in ops if o["kind"].endswith("read") and o["ok"]]
    writes = [o["ms"] for o in ops if not o["kind"].endswith("read") and o["ok"]]
    return reads, writes


def end_to_end(workload, expected, res):
    wall = res["wall_s"]
    obs = res["observed"]
    if workload.startswith("afc_"):
        rows, ops = expected["input_rows"], expected["units"]
    elif workload == "curation_batch":
        rows = ops = expected["docs"]
    else:
        ops = obs["attempted"]
        rows = sum(o["rows"] for o in obs["ops"])
    return {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (wall, "s"),
        "cpu_s": (res["cpu_s"], "s"),
        "rows_per_s": (rows / wall, "rows/s"),
        "ops_per_s": (ops / wall, "ops/s"),
    }


BENCH = {}  # BENCHMARK.json, loaded by main


def per_layer(workload, expected, res, untraced_wall):
    """Every per-layer metric from a traced run (0 where a layer is idle)."""
    tr = res["trace"]
    spans, jobs = tr["spans"], tr["jobs"]
    own, incl, totals = analysis.fold(spans, jobs, tr["stages"])
    job_iv = [(j["start"], j["end"]) for j in jobs if j["span"] in own]
    b0, b1 = tr["body_start"], tr["body_end"]
    obs = res["observed"]

    def named(*names):
        return [s for s in spans if s["name"] in names]

    def dur(*names):
        return sum(s["end"] - s["start"] for s in named(*names)) / 1000.0

    def count(key, *names):
        return sum(incl[s["id"]][key] for s in named(*names))

    def attr(key, *names):
        return sum(s["attrs"].get(key, 0.0) for s in named(*names))

    m = {}
    m["classify.s"] = dur("classify")
    m["classify.units"] = attr("units", "classify")
    m["classify.jobs"] = count("jobs", "classify")
    m["read.s"] = dur("read")
    m["read.jobs"] = count("jobs", "read")
    m["read.units_ok"] = attr("ok", "read.unit")
    m["read.units_failed"] = attr("failed", "read.unit")
    m["read.driver_s"] = sum((s["end"] - s["start"]) - analysis.union_length(job_iv, s["start"], s["end"])
                             for s in named("read")) / 1000.0
    m["operators.consolidate_s"] = dur("operators.consolidate")
    m["sql.plan_s"] = sum(q["plan_ms"] for q in tr["queries"]) / 1000.0
    m["sql.queries"] = len(tr["queries"])
    m["driver.serial_s"] = ((b1 - b0) - analysis.union_length(job_iv, b0, b1)) / 1000.0
    m["sinks.side_s"] = dur("sinks.side")
    m["sinks.side_jobs"] = count("jobs", "sinks.side")
    m["sinks.side_mb"] = count("output_bytes", "sinks.side") / analysis.MB
    m["sinks.load_s"] = dur("sinks.load")
    m["sinks.load_jobs"] = count("jobs", "sinks.load")
    m["sinks.load_mb"] = count("output_bytes", "sinks.load") / analysis.MB
    m["sinks.load_days"] = attr("days", "sinks.load")
    m["sinks.load_files"] = sum(r.get("files", 0) for r in obs.get("reports", {}).values())
    m["control.version_gate_s"] = dur("control.version_gate")
    m["control.archive_s"] = dur("control.archive")

    reads = ("sinks.read", "sinks.point_read")
    writes = ("sinks.append", "sinks.upsert", "sinks.compact")
    m["sinks.read_s"] = dur(*reads)
    m["sinks.asof_read_s"] = dur("sinks.asof_read")
    m["sinks.append_s"] = dur("sinks.append")
    m["sinks.upsert_s"] = dur("sinks.upsert")
    m["sinks.compact_s"] = dur("sinks.compact")
    n_w, n_r = len(named(*writes)), len(named(*reads, "sinks.asof_read"))
    m["sinks.jobs_per_write"] = count("jobs", *writes) / n_w if n_w else 0.0
    m["sinks.jobs_per_read"] = count("jobs", *reads, "sinks.asof_read") / n_r if n_r else 0.0
    fracs = [incl[s["id"]]["input_bytes"] / s["attrs"]["live_bytes"]
             for s in named(*reads) if s["attrs"].get("live_bytes")]
    m["sinks.read_bytes_frac"] = sum(fracs) / len(fracs) if fracs else 0.0
    user = attr("user_bytes", *writes)
    m["sinks.write_amp"] = attr("written_bytes", *writes) / user if user else 0.0
    m["sinks.compact_rewrite_mb"] = attr("written_bytes", "sinks.compact") / analysis.MB
    m["sinks.live_files"] = obs.get("live_files", 0)
    m["sinks.versions"] = obs.get("versions", 0)
    if workload == "store_mixed":
        r, w = store_ops(obs)
    else:
        r, w = [], []
    for name, xs in (("read", r), ("write", w)):
        lat = analysis.latency_summary(xs)
        m["store.%s_p50_ms" % name] = lat["p50"]
        m["store.%s_tail_ms" % name] = lat["tail"]
        m["store.%s_tail_pct" % name] = lat["tail_pct"]
        m["store.%s_n" % name] = lat["n"]

    m["llm.curate_s"] = dur("llm.curate")
    m["llm.materialize_s"] = dur("llm.materialize")
    m["llm.jobs"] = count("jobs", "llm.curate", "llm.materialize")
    m["llm.kept_frac"] = 0.0
    m["llm.near_dup_recall"] = 0.0
    if workload == "curation_batch":
        m["llm.kept_frac"] = len(obs["kept_ids"]) / expected["docs"]
        m["llm.near_dup_recall"] = near_dup_recall(expected, obs)

    m["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    m["jvm.peak_live_heap_mb"] = res["peak_live_heap_mb"]
    m.update(analysis.engine_metrics(totals))
    on_disk = expected.get("input_bytes") or sum(
        s["attrs"].get("live_bytes", 0.0) for s in named(*reads, "sinks.asof_read"))
    m["spark.scan_amp"] = totals["input_bytes"] / on_disk if on_disk else 0.0
    m["trace.coverage"] = analysis.coverage(spans, b0, b1)
    m["trace.wall_s"] = res["wall_s"]
    m["trace.overhead_s"] = res["wall_s"] - untraced_wall
    write_trace_file(workload, tr, own, incl)
    return m


def write_trace_file(workload, tr, own, incl):
    """The traced run for people: spans with self time and counters."""
    selfs = analysis.self_times(tr["spans"])
    spans = [dict(s, self_ms=selfs[s["id"]], self_counters=own[s["id"]],
                  counters=incl[s["id"]]) for s in tr["spans"]]
    out = os.path.join(WORK, "trace")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "%s.json" % tr["run_id"]), "w") as f:
        json.dump({"run_id": tr["run_id"], "body_start": tr["body_start"],
                   "body_end": tr["body_end"], "spans": spans, "jobs": tr["jobs"],
                   "queries": tr["queries"]}, f, indent=1)


def history_file(workload, stamp, seconds):
    """Untraced walls of one build of the sources at one --seconds."""
    return os.path.join(WORK, "history", "%s-%s-%g.json" % (workload, stamp[:16], seconds))


def untraced_walls(workload, stamp, seconds):
    """{seed: [wall_s, ...]} of this build's untraced runs."""
    try:
        with open(history_file(workload, stamp, seconds)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def record_wall(workload, stamp, seconds, seed, wall):
    walls = untraced_walls(workload, stamp, seconds)
    walls.setdefault(str(seed), []).append(wall)
    path = history_file(workload, stamp, seconds)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(walls, f)


def run_once(build_, workload, seed, seconds, trace):
    """One run of the build (stamp, classpath): returns (result line, raw result)."""
    stamp, classpath = build_
    work = os.path.join(WORK, "run", workload)
    expected = prepare(workload, seed, work)
    res = jvm(classpath, workload, seed, seconds, trace, work)
    attempted, failed, bad = verify(workload, expected, res["observed"])
    for b in bad:
        log("CHECK FAILED %s: %s" % (workload, b))
    if trace:
        base = analysis.untraced_baseline(untraced_walls(workload, stamp, seconds), seed)
        units = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
        metrics = {k: (v, units.get(k, "")) for k, v in
                   per_layer(workload, expected, res, base).items()}
    else:
        metrics = end_to_end(workload, expected, res)
        record_wall(workload, stamp, seconds, seed, res["wall_s"])
        log("%s memory: peak RSS %.0f MB, peak live heap %.0f MB"
            % (workload, res["peak_rss_mb"], res["peak_live_heap_mb"]))
        if workload == "curation_batch":
            log("curation_batch near-dup recall %.5f" % near_dup_recall(expected, res["observed"]))
        if workload == "store_mixed":
            r, w = store_ops(res["observed"])
            for name, xs in (("read", r), ("write", w)):
                lat = analysis.latency_summary(xs)
                log("store_mixed %s latency over %d ops: %s" % (name, lat["n"], (
                    "p50 %.1f ms" % lat["p50"] + ("" if lat["tail_pct"] == 50 else
                                                   ", p%d %.1f ms" % (lat["tail_pct"], lat["tail"]))
                    if lat["tail_pct"] else "too few ops for a percentile")))
    names = [m["name"] for m in BENCH["per_layer" if trace else "end_to_end"]]
    if sorted(names) != sorted(metrics):
        raise RuntimeError("metrics differ from BENCHMARK.json: %s"
                           % sorted(set(names) ^ set(metrics)))
    line = {"correct": not bad, "attempted": int(attempted), "failed": int(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    return line, res


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        BENCH.update(json.load(f))


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--all", action="store_true", help="every workload, untraced then traced")
    a = p.parse_args()
    if not a.all and not a.workload:
        p.error("give --workload or --all")
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        log("BENCHMARK.json not found at %s" % ROOT)
        sys.exit(2)
    load_benchmark()
    seconds = a.seconds if a.seconds is not None else BENCH["run_seconds"]
    build_ = build()
    if not a.all:
        if a.trace and not untraced_walls(a.workload, build_[0], seconds):
            log("no untraced run of this build recorded yet for %s: running one first"
                % a.workload)
            run_once(build_, a.workload, a.seed, seconds, 0)
        line, _ = run_once(build_, a.workload, a.seed, seconds, a.trace)
        for k, v in line["metrics"].items():
            print("%-28s %14.4f %s" % (k, v["value"], v["unit"]))
        print(json.dumps(line))
        return
    ok = True
    for w in WORKLOADS:
        for trace in (0, 1):
            t0 = time.time()
            line, _ = run_once(build_, w, a.seed, seconds, trace)
            ok &= line["correct"]
            print("== %s (%s, %.0f s) correct=%s attempted=%d failed=%d fail_frac=%.4f" % (
                w, "traced" if trace else "untraced", time.time() - t0, line["correct"],
                line["attempted"], line["failed"], line["failed"] / line["attempted"]))
            for k, v in line["metrics"].items():
                print("   %-28s %14.4f %s" % (k, v["value"], v["unit"]))
    print(json.dumps({"correct": ok}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
