#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <daily_ingest|corpus_curation|
        query_catalogue> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from source on first use (perfbench/target),
generates the seeded inputs (cached in perfbench/work/inputs), runs the
workload in one JVM (local[N], N = min(4, nproc)), checks every timed
output against its DuckDB oracle, and prints the metrics. The last line
of stdout is the JSON result: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. See README.md for the metric definitions.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("daily_ingest", "corpus_curation", "query_catalogue")
SETUPS = 3
COMPACT_EVERY = 2
HEAP = "4g"
HEAP_MIN = "1g"
YOUNG = "192m"
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 800
CDS_ARCHIVE = os.path.join(HERE, "target", "perfbench.jsa")
FAMILIES = ("ann", "dedup", "text", "stats", "warehouse", "etl", "tpch",
            "sketch", "streaming")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


# --- build -----------------------------------------------------------------

def sources_digest():
    h = hashlib.sha256()
    bases = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in bases:
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft + harness with sbt once per source digest; returns
    the runtime classpath."""
    digest = sources_digest()
    stamp = os.path.join(HERE, "target", "perfbench.classpath")
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved, cp = f.read().split("\n", 1)
        if saved == digest:
            return cp.strip(), digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines()
             if not l.startswith("[") and "classes" in l and os.pathsep in l]
    if p.returncode or not lines:
        sys.stderr.write(p.stdout[-6000:] + p.stderr[-2000:])
        fail("build failed", 3)
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    record_cds_archive(cp)
    with open(stamp, "w") as f:
        f.write(digest + "\n" + cp)
    return cp, digest


def record_cds_archive(cp):
    """Record a class-data archive for this classpath (best effort: without
    it the JVM loads every class from the jars, only more slowly)."""
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    work = os.path.join(WORK, "cds")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = java_cmd(cp, work, {"mode": "cds", "work": work})
    cmd.insert(1, f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}")
    subprocess.run(cmd, cwd=work, capture_output=True, timeout=BUILD_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)


def java_cmd(cp, tmp, args):
    # -Xms/-Xmn: a heap that a forced collection does not shrink and a
    # young generation small enough that every pass runs collections of its
    # own (peak_heap_mb reads the heap after each of them)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cds = [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"] if os.path.exists(CDS_ARCHIVE) else []
    return ([shutil.which("java") or "java", f"-Xms{HEAP_MIN}", f"-Xmn{YOUNG}", f"-Xmx{HEAP}", *cds, *opens,
             "--add-modules=jdk.incubator.vector", f"-Djava.io.tmpdir={tmp}",
             "-cp", cp, "perfbench.Main"]
            + [str(x) for kv in args.items() for x in (f"--{kv[0]}", kv[1])])


def run_jvm(cp, run_dir, args):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.run(java_cmd(cp, tmp, args), cwd=run_dir, stdout=log,
                           stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
    if p.returncode:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"harness exited with {p.returncode}", 4)


# --- query_catalogue draw --------------------------------------------------

def draw(seed):
    """The catalogue's queries: one per family from pool.json, drawn once
    with the pool's fixed `draw_seed` so every run seed times the same
    queries; the run seed orders them. Returns the names in run order and
    each pool query's family."""
    with open(os.path.join(HERE, "pool.json")) as f:
        pool = json.load(f)
    fixed = random.Random(pool["draw_seed"])
    names = [fixed.choice(pool["families"][fam]) for fam in FAMILIES]
    random.Random(seed).shuffle(names)
    family = {n: fam for fam in FAMILIES for n in pool["families"][fam]}
    return names, family


# --- checking and metrics --------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(lat):
    """Highest percentile with at least ten samples beyond it; with fewer
    than eleven samples, the maximum (and 0 samples beyond)."""
    s = sorted(lat)
    n = len(s)
    if n >= 11:
        return s[n - 11], 100.0 * (n - 10) / n, 10
    return (s[-1] if s else 0.0), 100.0, 0


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def check_ops(workload, ops, expected, outputs_rows):
    """Mark each op ok/failed and record the bytes of its outputs. A
    failed op is an exception or an oracle mismatch; for daily_ingest the
    pass-level check fails every op of the pass."""
    con = oracle.connect()
    bad_pass = set()
    for o in ops:
        o["failure"] = o["error"]
        o["output_bytes"] = 0
        for name, path in o["outputs"].items():
            o["output_bytes"] += dir_bytes(path)
            try:
                got = oracle.fingerprint(con, oracle.parquet_rel(path))
            except Exception as e:  # unreadable output counts as a mismatch
                got = {"error": str(e)}
            outputs_rows[o["id"]] = outputs_rows.get(o["id"], 0) + got.get("rows", 0)
            if got != expected[name]:
                o["failure"] = o["failure"] or f"oracle mismatch on {name}: {got} != {expected[name]}"
            shutil.rmtree(path, ignore_errors=True)
        if o["failure"] and workload == "daily_ingest":
            bad_pass.add(o["pass"])
    for o in ops:
        if workload == "daily_ingest" and o["pass"] in bad_pass and not o["failure"]:
            o["failure"] = "pass check failed"
    return [o for o in ops if o["failure"]]


def end_to_end(workload, phase, setup_s, gen_info):
    ops = phase["ops"]
    ok = [o for o in ops if not o["failure"]]
    lat = [o["lat_s"] for o in ok]
    walls = phase["pass_wall_s"]
    wall = median(walls)
    tail_v, tail_pct, beyond = tail(lat)
    written = [sum(o["bytes_written"] for o in ops if o["pass"] == p) for p in range(len(walls))]
    extra = phase["pass_extra"]
    if workload == "daily_ingest":
        rows_per_s = gen_info["input_rows"] / wall
        write_amp = median(written) / gen_info["input_bytes"]
        space_amp = median([e["bytes_on_disk"] / e["live_bytes"] for e in extra])
    else:
        if workload == "corpus_curation":
            rows_per_s = gen_info["input_rows"] / wall
            write_amp = median(written) / gen_info["input_bytes"]
        else:
            rows_per_s = phase["input_records"] / sum(o["lat_s"] for o in ops)
            write_amp = sum(written) / max(1, phase["input_bytes"])
        kept = [e["store_bytes"] + sum(o["output_bytes"] for o in ops if o["pass"] == p)
                for p, e in enumerate(extra)]
        space_amp = (gen_info["input_bytes"] + median(kept)) / gen_info["input_bytes"]
    peak = max(phase["pass_heap_mb"])
    if not peak:
        fail("no garbage collection ran during a pass: peak_heap_mb is undefined")
    metrics = {
        "setup_s": (median(setup_s), "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (rows_per_s, "rows/s"),
        "op_p50_s": (median(lat), "s"),
        "op_tail_s": (tail_v, "s"),
        "success_rate": (len(ok) / len(ops), "ratio"),
        "write_amp": (write_amp, "ratio"),
        "space_amp": (space_amp, "ratio"),
        "peak_heap_mb": (peak, "MB"),
    }
    detail = {"ops": len(ops), "ok_ops": len(ok), "error_rate": 1 - len(ok) / len(ops),
              "op_latency_s": [[o["name"], round(o["lat_s"], 4)] for o in ops],
              "passes": len(walls),
              "op_tail_percentile": tail_pct, "op_tail_samples_beyond": beyond,
              "setup_s_all": setup_s, "pass_wall_s_all": walls,
              "pass_heap_mb_all": phase["pass_heap_mb"], "pass_gcs": phase["pass_gcs"]}
    return metrics, detail


def union_ms(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def per_layer(rep, family, outputs_rows, slots):
    """Per-layer metrics of the traced phase (see README.md)."""
    ph = rep["traced"]
    ops = ph["ops"]
    op_ids = {o["id"] for o in ops}
    op_by_id = {o["id"]: o for o in ops}
    spans = ph["spans"]
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def total(name):
        return sum(s["end_ms"] - s["start_ms"] for s in by_name.get(name, [])) / 1000

    # self time = duration minus the children's union; must add up
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    residual = op_self = 0.0
    for s in by_name.get("op", []):
        kids = children.get(s["id"], [])
        dur = s["end_ms"] - s["start_ms"]
        self_t = dur - union_ms([(k["start_ms"], k["end_ms"]) for k in kids])
        op_self += self_t / 1000
        residual = max(residual, abs(self_t + sum(k["end_ms"] - k["start_ms"] for k in kids) - dur))

    def op_of(group, start):
        if group.startswith("op-") and int(group[3:]) in op_ids:
            return int(group[3:])
        for o in ops:
            if o["start_ms"] <= start <= o["end_ms"]:
                return o["id"]
        return None

    jobs = [dict(j, op=op_of(j["group"], j["start_ms"])) for j in rep["jobs"]]
    jobs = [j for j in jobs if j["op"] is not None]
    job_ops = {s: j["op"] for j in jobs for s in j["stages"]}
    stages = [s for s in rep["stages"] if int(s["id"]) in job_ops]
    op_wall = sum(o["lat_s"] for o in ops)
    gap = 0.0
    for o in ops:
        iv = [(max(j["start_ms"], o["start_ms"]), min(j["end_ms"], o["end_ms"]))
              for j in jobs if j["op"] == o["id"] and j["end_ms"] > 0]
        gap += o["lat_s"] - union_ms([x for x in iv if x[1] > x[0]]) / 1000
    busy = sum(int(s["task_busy_ms"]) for s in stages) / 1000
    streaming = [o for o in ops if family.get(o["name"]) == "streaming"]
    extra = lambda k: sum(o["extra"].get(k, 0.0) for o in ops)  # noqa: E731
    sources_s = sum(total(n) for n in by_name if n.startswith("sources."))
    untraced = rep["untraced"]["pass_wall_s"]
    m = {
        "sources.read_delimited_s": total("sources.read_delimited"),
        "sources.merge_s": total("sources.merge"),
        "sources.append_s": total("sources.append"),
        "sources.write_state_s": total("sources.write_state"),
        "sources.compact_s": total("sources.compact"),
        "sources.bytes_written": sum(o["bytes_written"] for o in ops),
        "sources.files_written": sum(o["files_written"] for o in ops),
        "sources.bytes_on_disk": median([e.get("bytes_on_disk", e.get("store_bytes", 0))
                                         for e in ph["pass_extra"]]),
        "sources.rewrite_ratio": extra("rows_rewritten") / max(1.0, extra("rows_changed")),
        "sources.store_build_s": total("sources.store_build"),
        "operators.build_s": total("operators.build"),
        "operators.exec_s": total("operators.exec"),
        "operators.output_rows": sum(outputs_rows.get(o["id"], 0) for o in ops),
        "operators.reprocess_ratio": extra("rows_merged") / max(1.0, extra("rows_changed")),
        **{f"operators.family.{f}_s": sum(o["lat_s"] for o in ops if family.get(o["name"]) == f)
           for f in FAMILIES},
        "plans.plan_s": total("plans.plan"),
        "plans.plan_nodes": sum(o["plan_nodes"] for o in ops),
        "plans.exchanges": sum(o["exchanges"] for o in ops),
        **rep["kernels"],
        "streaming.op_s": sum(o["lat_s"] for o in streaming),
        "streaming.jobs_per_op": (sum(1 for j in jobs if op_by_id[j["op"]] in streaming)
                                  / len(streaming)) if streaming else 0.0,
        "core.release_s": total("core.release"),
        "core.persisted_bytes": median([o["persisted_bytes"] for o in ops]),
        "core.persisted_rdds": median([o["persisted_rdds"] for o in ops]),
        "spark.jobs": len(jobs),
        "spark.driver_gap_s": gap,
        "spark.scheduler_delay_s": sum(int(s["sched_delay_ms"]) for s in stages) / 1000,
        "spark.stages": len(stages),
        "spark.tasks": sum(int(s["tasks"]) for s in stages),
        "spark.task_busy_s": busy,
        "spark.slot_util": busy / (op_wall * slots) if op_wall else 0.0,
        "spark.starved_stage_s": sum(s["complete_ms"] - s["submit_ms"] for s in stages
                                     if int(s["tasks"]) < slots) / 1000,
        "spark.shuffle_read_bytes": sum(int(s["shuffle_read"]) for s in stages),
        "spark.shuffle_write_bytes": sum(int(s["shuffle_write"]) for s in stages),
        "spark.input_bytes": sum(int(s["input_bytes"]) for s in stages),
        "spark.spill_bytes": sum(int(s["spill_bytes"]) for s in stages),
        "spark.gc_s": sum(int(s["gc_ms"]) for s in stages) / 1000,
        "spark.failed_tasks": sum(int(s["failed_tasks"]) for s in stages),
        "spark.stage_retries": sum(1 for s in stages if int(s["attempt"]) > 0),
        "trace.op_wall_s": op_wall,
        "trace.op_self_s": op_self,
        "trace.overhead_s": median(ph["pass_wall_s"]) - median(untraced),
        "trace.self_time_residual_s": residual / 1000,
        "share.gap_plan": (gap + total("plans.plan")) / op_wall if op_wall else 0.0,
        "share.task_busy": busy / op_wall if op_wall else 0.0,
        "share.sources": sources_s / op_wall if op_wall else 0.0,
    }
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"graft sources not found under {ROOT}; run from a graft checkout")

    t_start = time.time()
    cp, digest = build()
    in_dir, gen_args = gen.generate(os.path.join(WORK, "inputs"), a.workload, a.seed)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cpus = min(4, os.cpu_count() or 1)
    args = {"mode": "run", "workload": a.workload, "inputs": in_dir,
            "work": run_dir, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "setups": SETUPS, "cpus": cpus,
            "compact_every": COMPACT_EVERY}
    family = {}
    if a.workload == "query_catalogue":
        names, family = draw(a.seed)
        args["queries"] = ",".join(names)
    run_jvm(cp, run_dir, args)
    with open(os.path.join(run_dir, "report.json")) as f:
        rep = json.load(f)

    # oracle fingerprints (outside timing; cached per input set)
    if a.workload == "daily_ingest":
        days = rep["workload_info"]["days"]
        expected = oracle.daily_expected(in_dir, days, os.path.join(in_dir, "expected.json"))
        rows, size = oracle.input_files(in_dir, days)
    else:
        with open(os.path.join(run_dir, "oracle_sql.json")) as f:
            oracle_sql = json.load(f)
        names = sorted({n for ph in ("untraced", "traced") if rep[ph]
                        for o in rep[ph]["ops"] for n in o["outputs"]})
        expected = oracle.expected_sql(in_dir, names, oracle_sql,
                                       os.path.join(in_dir, "expected.json"))
        tables = ("documents", "embeddings") if a.workload == "corpus_curation" else oracle.TABLES
        size = sum(os.path.getsize(os.path.join(in_dir, f"{t}.parquet")) for t in tables)
        rows = (sum(gen.SF01_ROWS[t] for t in tables) if a.workload == "query_catalogue"
                else gen_args["size"] + gen_args["vectors"])
    gen_info = {"input_rows": rows, "input_bytes": size}

    outputs_rows = {}
    failures = []
    attempted = 0
    for ph in ("untraced", "traced"):
        if rep[ph]:
            attempted += len(rep[ph]["ops"])
            failures += check_ops(a.workload, rep[ph]["ops"], expected, outputs_rows)
    e2e, detail = end_to_end(a.workload, rep["untraced"], rep["setup_s"], gen_info)
    if a.trace:
        metrics = {k: (v, unit_of(k))
                   for k, v in per_layer(rep, family, outputs_rows, cpus).items()}
    else:
        metrics = e2e

    git = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "generator_args": gen_args, "nproc": os.cpu_count(), "local_n": cpus,
        "driver_heap": HEAP, "driver_heap_min": HEAP_MIN, "young_gen": YOUNG,
        "setups": SETUPS, "spark": rep["env"],
        "git_commit": git.stdout.strip() if git.returncode == 0 else None,
        "source_digest": digest, "workload_info": rep["workload_info"],
        "end_to_end": {k: v for k, (v, _) in e2e.items()}, "detail": detail,
        "failures": [{"op": o["id"], "name": o["name"], "why": o["failure"][:300]}
                     for o in failures][:20],
        "run_s": time.time() - t_start,
    }
    res_dir = os.path.join(WORK, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump({**stamp, "metrics": {k: v for k, (v, _) in metrics.items()}}, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(stamp, default=str))
    for f in stamp["failures"]:
        print(f"FAILED op {f['op']} {f['name']}: {f['why']}")
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name == "sources.bytes_written" or name == "sources.bytes_on_disk":
        return "bytes"
    if "ns_per" in name:
        return "ns"
    if name.startswith("share.") or name.endswith("_ratio") or name.endswith("_util"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
