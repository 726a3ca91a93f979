#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Builds the engine and the harness (sbt, offline) when their sources
changed, runs the workload in one JVM with the Spark session confs of
graft.Bench, runs the DuckDB output checks, stores the full result record
under perfbench/results/ and prints, as its last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end-to-end metrics; with --trace 1 its per-layer ones.
"""
import argparse
import hashlib
import json
import math
import re
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main"
TARGET = BENCH / "target"
CLASSES = TARGET / "scala-2.13" / "classes"
STAMP = TARGET / "perfbench.stamp"
WORK = BENCH / ".work"
RESULTS = BENCH / "results"
WORKLOADS = ("backfill", "arrival", "lakehouse")
RUN_LIMIT_S = 170      # one run must end within 180 s
BUILD_LIMIT_S = 840    # the first run in a checkout may take 900 s
HEAP = "2g"
# per-layer metric families a workload does not exercise: they report
# zero work (the layer x workload table in README.md)
ABSENT = {
    "backfill": ("stream.", "bench.", "ct.", "rd."),
    # the stream's transform time is inside stream.add_batch_s
    "arrival": ("csv.", "pipelines.transform_s", "warehouse.", "ct.", "rd.", "cur."),
    "lakehouse": ("csv.", "pipelines.", "warehouse.", "stream.", "bench.", "cur."),
}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build compiles, in a stable order."""
    roots = [ENGINE_SRC, BENCH / "src"]
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(digest):
    if STAMP.exists() and STAMP.read_text() == digest and CLASSES.is_dir():
        return
    TARGET.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]))
    log = TARGET / "build.log"
    with open(log, "w") as out:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                               cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}", 1)
    if r.returncode != 0:
        fail(f"build failed; see {log}", 1)
    STAMP.write_text(digest)


def run_jvm(args, work, deadline):
    # a fixed, pre-touched heap: heap growth then adds no run-to-run noise
    # to the timings (mem_peak_mb counts the heap in use, not its size)
    cmd = ["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:TieredStopAtLevel=1",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{CLASSES}:{os.environ['SPARK_HOME']}/jars/*", "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work)]
    env = dict(os.environ, LANG="C.UTF-8", LC_ALL="C.UTF-8")
    log = work / "jvm.log"
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"workload timed out; see {log}", 1)
    if p.returncode != 0:
        tail = log.read_text(errors="replace").splitlines()[-30:]
        fail("workload failed:\n" + "\n".join(tail), 1)
    return json.loads((work / "result.json").read_text())


def duck_checks(checks):
    """Untimed output checks in DuckDB; returns (attempted, failed, notes)."""
    if not checks:
        return 0, 0, []
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    failed, notes = 0, []
    for c in checks:
        ok = False
        try:
            if c["kind"] == "same_rows":
                def surplus(a, b):
                    return con.execute(
                        f"SELECT count(*) FROM (SELECT * FROM read_parquet('{a}') "
                        f"EXCEPT ALL SELECT * FROM read_parquet('{b}'))").fetchone()[0]
                extra = surplus(c["actual"], c["expected"])
                missing = surplus(c["expected"], c["actual"])
                ok = extra == 0 and missing == 0
                if not ok:
                    notes.append(f"{c['name']}: {extra} unexpected, {missing} missing rows")
            elif c["kind"] == "oracle":
                for view, path in c["views"].items():
                    con.execute(f"CREATE OR REPLACE VIEW {view} AS "
                                f"SELECT * FROM read_parquet('{path}')")
                # materialize each CTE once: DuckDB otherwise inlines them
                # into the pair join and recomputes the signatures per pair
                sql = re.sub(r"^(\s*(?:WITH\s+(?:RECURSIVE\s+)?)?\w+) AS \(",
                             r"\1 AS MATERIALIZED (", c["sql"], flags=re.M)
                cur = con.execute(sql)
                cols = [d[0] for d in cur.description]
                got = [dict(zip(cols, r)) for r in cur.fetchall()]
                ok = got == c["expected"]
                if not ok:
                    notes.append(f"{c['name']}: duckdb {got} != engine {c['expected']}")
        except Exception as e:  # a check that cannot run is a failed check
            notes.append(f"{c['name']}: {type(e).__name__}: {e}")
        failed += 0 if ok else 1
    return len(checks), failed, notes


def cpu_ticks():
    """(steal, total) CPU ticks of the machine, from /proc/stat."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
        return f[7] if len(f) > 7 else 0, sum(f)
    except (OSError, ValueError):
        return 0, 0


def pid_alive(pid):
    try:
        os.kill(int(pid), 0)
        return True
    except (ValueError, ProcessLookupError):
        return False
    except PermissionError:
        return True


def unit_of(name):
    """Unit of a workload's own metric name, by its suffix."""
    for suffix, unit in (("_per_s", "1/s"), ("_pct", "%"), ("_s", "s"),
                         ("storage_amp", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def expected_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["per_layer" if trace else "end_to_end"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()
    deadline = t_start + RUN_LIMIT_S

    if not (ENGINE_SRC / "scala" / "graft").is_dir():
        fail(f"engine sources not found under {ENGINE_SRC}")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set; the build and the run use $SPARK_HOME/jars")
    wanted = expected_metrics(args.trace)
    digest = source_hash()
    t_build = time.monotonic()
    build(digest)
    deadline += time.monotonic() - t_build  # the build has its own limit

    WORK.mkdir(exist_ok=True)
    for stale in WORK.iterdir():  # left behind by a killed run
        if not pid_alive(stale.name.rsplit("-", 1)[-1]):
            shutil.rmtree(stale, ignore_errors=True)
    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    ticks0 = cpu_ticks()
    try:
        res = run_jvm(args, work, deadline)
        d_att, d_fail, notes = duck_checks(res.get("duck_checks", []))
        trace_file = work / "trace.json"
        trace = json.loads(trace_file.read_text()) if trace_file.exists() else None
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # the share of the machine's CPU time the hypervisor withheld while
    # the workload ran: slow runs on a shared VM show here
    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    attempted = res["attempted"] + d_att
    failed = res["failed"] + d_fail
    metrics = res["metrics"]
    if args.trace:
        for m in wanted:
            if m["name"].startswith(ABSENT[args.workload]):
                metrics.setdefault(m["name"], {"value": 0, "unit": m["unit"]})
    missing = [m["name"] for m in wanted if m["name"] not in metrics
               or metrics[m["name"]]["value"] is None
               or not math.isfinite(metrics[m["name"]]["value"])]
    if missing:
        fail(f"workload did not report {missing}", 1)
    out = {m["name"]: {"value": metrics[m["name"]]["value"], "unit": m["unit"]}
           for m in wanted}
    record = dict(res["record"], workload=args.workload, seed=args.seed,
                  seconds=args.seconds, trace=args.trace, inputs=res["inputs"])
    full = {"record": record,
            "build": {"git_commit": git_commit(), "source_sha256": digest},
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "failures": res["failures"] + notes, "metrics": out,
            "named": res["named"], "setup_reps_s": res["setup_reps_s"],
            "phases_s": dict(res["phases_s"], wall_s=time.monotonic() - t_start),
            "cpu_steal_frac": steal / total if total else None,
            "trace": trace}
    RESULTS.mkdir(exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}.json"
    (RESULTS / name).write_text(json.dumps(full, indent=1, ensure_ascii=False))

    for k, v in res["named"].items():
        if not k.endswith("_samples_s"):
            print(f"{args.workload}.{k} = {v} {unit_of(k)}".rstrip())
    for f in full["failures"]:
        print(f"FAILED: {f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
