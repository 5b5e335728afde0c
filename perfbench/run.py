#!/usr/bin/env python3
"""Benchmark of the graft engine: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source when they changed (sbt,
offline), generates the workload's inputs from the seed, runs the harness
in one JVM at local[4], checks the outputs, and prints every end-to-end
metric (``--trace 0``) or every per-layer metric (``--trace 1``). The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``. See README.md in this directory.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
HARNESS = HERE / "harness"
WORK = HERE / ".work"
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import gen  # noqa: E402

CORES = 4
# cold set-ups per run: the main harness JVM plus SETUPS - 1 set-up-only JVMs
SETUPS = 2
# fixed heap and young generation, so peak RSS does not follow the
# collector's adaptive sizing
JVM_MEMORY = ["-Xms3g", "-Xmx3g", "-Xmn1g"]

# Each workload's operations. The query mixes run in this order every pass.
WORKLOADS = {
    "fan_etl": {"rows": 100_000, "files": 8, "warmup_passes": 3},
    "batch_heavy": {"sf": 0.1, "warmup_passes": 2, "queries": [
        "q_word_ngrams", "q_image_decode"]},
    "stream_replay": {"sf": 0.1, "warmup_passes": 1, "queries": [
        "q_stream_session", "q_stream_tws"]},
}

END_TO_END = {  # name -> unit
    "setup_s": "s", "wall_s": "s", "first_pass_s": "s", "rows_per_s": "rows/s",
    "query_p50_s": "s", "query_tail_s": "s", "ok_frac": "frac", "peak_rss_mb": "MB",
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Run ``cmd`` in its own process group; kill the whole group if it
    outlives ``timeout`` seconds. Returns the exit code (None on timeout)."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


# --- build -----------------------------------------------------------------

def _source_digest():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HARNESS / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        if p.exists():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness if their sources changed; return the classpath."""
    out = WORK / "build"
    out.mkdir(parents=True, exist_ok=True)
    digest = _source_digest()
    stamp, cp_file = out / "stamp", out / "classpath"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    log = out / "sbt.log"
    with open(log, "w") as fh:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         timeout=780, cwd=HARNESS, env=env, stdout=fh, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    lines = log.read_text().splitlines()
    cp = next((ln for ln in reversed(lines) if ln.startswith("/") and ".jar" in ln), None)
    if code != 0 or cp is None:
        fail(f"build failed (exit {code}), see {log}")
    cp_file.write_text(cp)
    stamp.write_text(digest)
    return cp


# --- inputs ----------------------------------------------------------------

def _gen_key():
    return hashlib.sha256((HERE / "gen.py").read_bytes()).hexdigest()[:12]


def inputs(kind, seed, make):
    """A generated input dir for (kind, seed), made once; other seeds' dirs
    of the same kind are removed so the work dir stays small."""
    base = WORK / "inputs" / kind
    d = base / f"seed{seed}-{_gen_key()}"
    if not (d / "done").exists():
        if base.exists():
            shutil.rmtree(base)
        make(d)
        (d / "done").write_text("")
    return d


# --- metrics ---------------------------------------------------------------

def rows_read(sql, sf):
    """Rows of the generated tables a query reads, taken from the tables its
    oracle SQL names (each table once)."""
    return sum(gen._rows(t, sf) for t in gen.TABLES if re.search(rf"\b{t}\b", sql))


def tail(samples):
    """The tail of the operation latencies: (value, percentile, sample count).

    The highest percentile with at least ten samples beyond it, once that
    percentile reaches p90 (100 samples or more). A run of a few seconds has
    far fewer, so it reports the p90 interpolated between the slowest
    samples instead: a faster engine that fits more samples into a run then
    still reports about the same percentile, and the slowest sample, which
    grows with the sample count, is not used."""
    s = sorted(samples)
    n = len(s)
    if n >= 100:
        k = n - 11  # 0-based index; ten samples lie above it
        return s[k], round(100.0 * (k + 1) / n, 1), n
    if n == 1:
        return s[0], 100.0, 1
    return statistics.quantiles(s, n=10, method="inclusive")[-1], 90.0, n


def end_to_end(res, input_rows, failed_names):
    """``input_rows``: rows the operations of one pass read."""
    warm = res["passes"]
    ops = [o for p in warm for o in p["ops"]]
    wall = statistics.median(p["wall"] for p in warm)
    lat = [o["s"] for o in ops]
    t, pct, n = tail(lat)
    attempted = len(ops) + len(res["first_pass"]["ops"])
    failed = sum(1 for p in [res["first_pass"]] + warm for o in p["ops"]
                 if o["error"] or o["name"] in failed_names)
    metrics = {
        "setup_s": statistics.median(res["setup_s"]),
        "wall_s": wall,
        "first_pass_s": res["first_pass"]["wall"],
        "rows_per_s": input_rows / wall,
        "query_p50_s": statistics.median(lat),
        "query_tail_s": t,
        "ok_frac": 1.0 - failed / attempted,
        "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
    }
    notes = {"query_tail_s": f"p{pct} of {n} operation latencies",
             "wall_s": f"median of {len(warm)} warm passes",
             "setup_s": f"median of {len(res['setup_s'])} cold set-ups, process launch to registered"}
    return metrics, notes, attempted, failed, {"percentile": pct, "samples": n}


PER_LAYER = {  # name -> unit
    "session.create_s": "s", "session.register_s": "s",
    "pipeline.lut_s": "s", "pipeline.read_s": "s", "pipeline.transform_s": "s",
    "pipeline.sink_s": "s", "pipeline.sink_parallelism": "cores",
    "pipeline.rows_in": "rows", "pipeline.rows_out": "rows",
    "pipeline.malformed_rows": "rows", "pipeline.other_rows": "rows",
    "operators.build_s": "s", "operators.build_jobs": "count", "operators.exec_s": "s",
    "catalyst.plan_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.sql_executions": "count", "spark.job_wall_s": "s", "spark.task_run_s": "s",
    "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.eff_parallelism": "cores",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.input_bytes": "bytes", "spark.output_bytes": "bytes",
    "streaming.batches": "count", "streaming.add_batch_s": "s", "streaming.planning_s": "s",
    "streaming.wal_commit_s": "s", "streaming.commit_offsets_s": "s",
    "streaming.trigger_s": "s", "streaming.lifecycle_s": "s",
    "streaming.state_rows": "rows", "streaming.state_bytes": "bytes",
    "host.calib_s": "s", "trace.overhead_frac": "frac",
}


def per_layer(res):
    """Per-layer metrics: per-pass totals over the traced warm passes
    (median across them); ratios from the summed totals."""
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]
    stats = res["op_stats"]

    def st(op, key):
        """A listener counter of one operation (0 when it recorded none)."""
        return stats.get(str(op["seq"]), {}).get(key, 0)

    def per_pass(f):
        return statistics.median(sum(f(o) for o in p["ops"]) for p in traced)

    def part(o, k):
        return o["parts"].get(k, 0.0)

    def total(key):
        return sum(st(o, key) for p in traced for o in p["ops"])

    m = {
        "session.create_s": statistics.median(s["create"] for s in res["setups"]),
        "session.register_s": statistics.median(s["register"] for s in res["setups"]),
        "pipeline.lut_s": per_pass(lambda o: part(o, "lut")),
        "pipeline.read_s": per_pass(lambda o: part(o, "read")),
        "pipeline.transform_s": per_pass(
            lambda o: max(0.0, part(o, "transform") - part(o, "read") - part(o, "lut"))),
        "pipeline.sink_s": per_pass(
            lambda o: part(o, "run") - part(o, "transform") if "transform" in o["parts"] else 0.0),
        "pipeline.sink_parallelism":
            total("run_task_run_ms") / total("run_job_wall_ms") if total("run_job_wall_ms") else 0.0,
        "operators.build_s": per_pass(lambda o: part(o, "build")),
        "operators.build_jobs": per_pass(lambda o: st(o, "build_jobs")),
        "operators.exec_s": per_pass(lambda o: part(o, "exec")),
        "catalyst.plan_s": per_pass(lambda o: st(o, "plan_ms") / 1e3),
        "spark.jobs": per_pass(lambda o: st(o, "jobs")),
        "spark.stages": per_pass(lambda o: st(o, "stages")),
        "spark.tasks": per_pass(lambda o: st(o, "tasks")),
        "spark.sql_executions": per_pass(lambda o: st(o, "sql_executions")),
        "spark.job_wall_s": per_pass(lambda o: st(o, "job_wall_ms") / 1e3),
        "spark.task_run_s": per_pass(lambda o: st(o, "task_run_ms") / 1e3),
        "spark.task_cpu_s": per_pass(lambda o: st(o, "task_cpu_ns") / 1e9),
        "spark.gc_s": per_pass(lambda o: st(o, "gc_ms") / 1e3),
        "spark.eff_parallelism":
            total("task_run_ms") / total("job_wall_ms") if total("job_wall_ms") else 0.0,
        "spark.shuffle_read_bytes": per_pass(lambda o: st(o, "shuffle_read_bytes")),
        "spark.shuffle_write_bytes": per_pass(lambda o: st(o, "shuffle_write_bytes")),
        "spark.spill_bytes": per_pass(lambda o: st(o, "spill_bytes")),
        "spark.input_bytes": per_pass(lambda o: st(o, "input_bytes")),
        "spark.output_bytes": per_pass(lambda o: st(o, "output_bytes")),
        "streaming.batches": per_pass(lambda o: st(o, "batches")),
        "streaming.add_batch_s": per_pass(lambda o: st(o, "add_batch_ms") / 1e3),
        "streaming.planning_s": per_pass(lambda o: st(o, "planning_ms") / 1e3),
        "streaming.wal_commit_s": per_pass(lambda o: st(o, "wal_commit_ms") / 1e3),
        "streaming.commit_offsets_s": per_pass(lambda o: st(o, "commit_offsets_ms") / 1e3),
        "streaming.trigger_s": per_pass(lambda o: st(o, "trigger_ms") / 1e3),
        # a replay runs while its query function builds the result table
        "streaming.lifecycle_s": per_pass(
            lambda o: part(o, "build") - st(o, "trigger_ms") / 1e3 if st(o, "batches") else 0.0),
        "streaming.state_rows": per_pass(lambda o: st(o, "state_rows")),
        "streaming.state_bytes": per_pass(lambda o: st(o, "state_bytes")),
        "host.calib_s": statistics.median(res["calib"]) if res["calib"] else 0.0,
        # per pass, Σ operation latency: fan_etl's traced split passes are
        # not part of its latency, so pass walls would not compare
        "trace.overhead_frac": per_pass(lambda o: o["s"])
        / statistics.median(sum(o["s"] for o in p["ops"]) for p in untraced) - 1.0,
    }
    fan = res["fan_counts"]
    if fan:
        m["pipeline.rows_in"] = fan["rows_in"]
        m["pipeline.malformed_rows"] = fan["malformed_rows"]
        m["pipeline.other_rows"] = fan["other_rows"]
        m["pipeline.rows_out"] = statistics.median(o["out_lines"] for o in traced[0]["ops"])
    else:
        for k in ("rows_in", "malformed_rows", "other_rows", "rows_out"):
            m[f"pipeline.{k}"] = 0
    return m


# --- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala",
                 HARNESS / "build.sbt"):
        if not need.exists():
            fail(f"engine sources not found: {need}")
    cp = build()

    w = WORKLOADS[a.workload]
    out = WORK / "runs" / a.workload
    if out.exists():
        shutil.rmtree(out)
    (out / "tmp").mkdir(parents=True)
    args = ["--seconds", str(a.seconds),
            "--warmup-passes", str(w["warmup_passes"]),
            "--trace", str(a.trace)]
    if "rows" in w:
        fan_dir = inputs("fan", a.seed, lambda d: gen.write_fan(d, w["rows"], w["files"], a.seed))
        args += ["--fan", str(fan_dir)]
    else:
        sf = w["sf"]
        tables_dir = inputs(f"tables_sf{sf}", a.seed, lambda d: gen.write_tables(d, sf, a.seed))
        args += ["--tables", str(tables_dir), "--queries", ",".join(w["queries"])]
    if a.trace:
        calib = inputs("calib", 0, lambda d: gen.write_tables(d, 0.1, 0, ["lineitem"]))
        args += ["--calib", str(calib)]

    def harness(jvm_out, harness_args, timeout):
        """Run the harness JVM; return its result and the seconds from the
        launch until its session was tuned and registered."""
        jvm_out.mkdir(parents=True, exist_ok=True)
        java = ["java", *[f"--add-opens={p}=ALL-UNNAMED" for p in JDK_OPENS], *JVM_MEMORY,
                f"-Djava.io.tmpdir={out / 'tmp'}", "-cp", cp, "graft.perfbench.Harness",
                "--out", str(jvm_out), *harness_args]
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES), SPARK_LOCAL_DIRS=str(out / "tmp"))
        with open(jvm_out / "jvm.log", "w") as log:
            launched = time.time()
            code = run_group(java, timeout=timeout, cwd=jvm_out, env=env,
                             stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        if code != 0 or not (jvm_out / "result.json").exists():
            fail(f"harness failed (exit {code}), see {jvm_out / 'jvm.log'}")
        r = json.loads((jvm_out / "result.json").read_text())
        return r, r["setup"]["registered_epoch_s"] - launched

    # cold set-ups in set-up-only JVMs, then the measuring JVM, whose own
    # set-up is one more sample
    setups, setup_s = [], []
    for i in range(SETUPS - 1):
        r, s = harness(out / f"setup{i}", ["--setup-only", "1"], timeout=60)
        setups.append(r["setup"])
        setup_s.append(s)
    res, s = harness(out, args, timeout=150)
    setups.append(res["setup"])
    setup_s.append(s)
    res.update(setups=setups, setup_s=setup_s)

    # output checks, outside the timed region
    if "rows" in w:
        input_rows = w["rows"]
        reason = check.check_fan(fan_dir, out / "fan_out" / "result-00000-of-00001.jsonl",
                                     [o for p in [res["first_pass"]] + res["passes"] for o in p["ops"]])
        verdicts = {"fan_pipeline_run": reason}
    else:
        verdicts = check.check_queries(
            tables_dir, out / "check", res["oracle_sql"], w["queries"], WORK / "oracle_cache",
            f"sf{w['sf']}|seed{a.seed}|{_gen_key()}")
        input_rows = sum(rows_read(res["oracle_sql"].get(q, ""), w["sf"]) for q in w["queries"])
    failed_names = {q for q, v in verdicts.items() if v}
    errors = {o["name"]: o["error"] for p in [res["first_pass"]] + res["passes"]
              for o in p["ops"] if o["error"]}

    e2e, notes, attempted, failed, tail_info = end_to_end(res, input_rows, failed_names)
    (out / "summary.json").write_text(json.dumps(
        {"workload": a.workload, "seed": a.seed, "end_to_end": e2e, "notes": notes,
         "query_tail": tail_info, "setup_s_samples": res["setup_s"], "input_rows": input_rows,
         "checks": verdicts, "errors": errors}, indent=1))
    if a.trace:
        layers = per_layer(res)
        metrics = {k: (layers[k], u) for k, u in PER_LAYER.items()}
        # the same metrics per operation: each pass cut down to that one op
        per_op = {}
        for name in dict.fromkeys(o["name"] for o in res["first_pass"]["ops"]):
            only = [dict(p, ops=[o for o in p["ops"] if o["name"] == name]) for p in res["passes"]]
            per_op[name] = per_layer(dict(res, passes=only))
        trace_file = out / "trace.json"
        trace_file.write_text(json.dumps(
            {"workload": a.workload, "seed": a.seed, "per_layer": layers,
             "per_operation": per_op, "end_to_end_traced": e2e,
             "op_stats": res["op_stats"], "passes": res["passes"]}, indent=1))
    else:
        metrics = {k: (e2e[k], u) for k, u in END_TO_END.items()}

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}")
    for k, (v, u) in metrics.items():
        print(f"  {k:<28} {v:>16.6g} {u:<8} {notes.get(k, '')}")
    for q, v in verdicts.items():
        print(f"  check {q}: {'ok' if v is None else 'FAIL ' + v}")
    for q, e in errors.items():
        print(f"  error {q}: {e}")
    if a.trace:
        print(f"  per-operation trace: {trace_file}")
    print(json.dumps({
        "correct": not failed_names and not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
