#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload ingest|query_mix --seed N \
        --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), measures set-up three
times (two set-up-only JVMs plus the measuring JVM), then runs in one JVM
at local[N], N = min(nproc - 1, 4): one cold round, one warm-up round and
measured warm rounds for S seconds. Every op's output is checked. Prints
every metric with its unit and, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"} -- end-to-end metrics with
--trace 0, per-layer metrics with --trace 1 (which also writes a span
file, a self-time table per layer and the tracing overhead).

Environment: PERFBENCH_SF_DIR names the tables the query workload permutes
(default: the sf0.1 directory TESTDATA.md lists); SPARK_HOME (default: the
installation of the spark-submit on PATH) provides Spark's jars and the
Scala compiler.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("ingest", "query_mix")
SETUP_PROBES = 2
RUN_DEADLINE_S = 170   # the whole run, JVMs included, ends within this
KEEP_INPUTS = 3
KEEP_RUNS = 6
SPEC = ROOT / "BENCHMARK.json"

ADD_OPENS = []
for _p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
           "java.net", "java.nio", "java.util", "java.util.concurrent",
           "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
           "sun.security.action", "sun.util.calendar"):
    ADD_OPENS += ["--add-opens", f"java.base/{_p}=ALL-UNNAMED"]


def spec_metrics(kind):
    """(name, unit) of the `end_to_end` or `per_layer` metrics BENCHMARK.json lists."""
    return [(m["name"], m["unit"]) for m in json.loads(SPEC.read_text())[kind]]


def cpus():
    """Task slots: one core fewer than the process may use (at most 4), so
    Spark's scheduler thread, JIT compilers and GC do not steal from tasks."""
    n = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    return max(1, min(4, (n or 1) - 1))


def _prune(parent, keep):
    dirs = sorted((d for d in parent.iterdir() if d.is_dir()), key=lambda d: d.stat().st_mtime)
    for d in dirs[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


def testdata_dir(sf):
    """The table directory TESTDATA.md lists for scale factor `sf`, if any."""
    doc = ROOT / "TESTDATA.md"
    if doc.is_file():
        for line in doc.read_text().splitlines():
            cells = [c.strip() for c in line.strip().strip("|").split("|")]
            if len(cells) >= 2 and cells[0] == sf:
                return cells[1].strip("`").rstrip("/")
    return None


def prepare_inputs(workload, seed):
    """Generate (or reuse) the seed's inputs; same seed, same bytes."""
    kind = "ingest" if workload == "ingest" else "query"
    base = WORK / "inputs"
    out = base / f"{kind}-{seed}"
    if not (out / "manifest.json").is_file():
        tmp = base / f"{kind}-{seed}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        if kind == "ingest":
            gen.gen_ingest(seed, str(tmp))
        else:
            sf = os.environ.get("PERFBENCH_SF_DIR") or testdata_dir("0.1")
            if not sf or not os.path.isdir(sf):
                raise SystemExit(f"query tables not found: {sf} (set PERFBENCH_SF_DIR)")
            gen.gen_query(seed, str(tmp), sf)
        shutil.rmtree(out, ignore_errors=True)
        tmp.rename(out)
    os.utime(out)
    _prune(base, KEEP_INPUTS)
    return out


def jvm(classes, args, log, timeout):
    env = dict(os.environ,
               SPARK_GRAFT_FIXTURES=str(ROOT / "fixtures"),
               SPARK_LOCAL_DIRS=str(WORK / "spark-local"))
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # build.sbt's JVM options with a 3 GB heap; TCP_NODELAY on the loopback
    # server, whose small responses otherwise wait ~40 ms on Nagle's
    # algorithm and the client's delayed ACK
    cmd = (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
            "-Dsun.net.httpserver.nodelay=true",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
           ["-cp", build.classpath(classes), "perfbench.Main"] + [str(a) for a in args])
    with open(log, "a") as f:
        r = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=f,
                           text=True, timeout=timeout)
        f.write(r.stdout)
    if r.returncode != 0:
        tail = Path(log).read_text()[-3000:]
        raise RuntimeError(f"benchmark JVM exited {r.returncode}:\n{tail}")
    return r.stdout


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def mean(xs, default=0.0):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else default


def check_queries(res, inputs, run_dir):
    """DuckDB oracle check of the result each cold op wrote, then every
    warm op's row count against the expected result. Returns (checks
    attempted, failed checks, messages)."""
    info = res["finish"]["queries"]
    cold = {op["name"]: op for op in res["cold"]["ops"]}
    con = oracle.connect(str(inputs), gen.TABLES)
    want_rows, failures, msgs = {}, 0, []
    for q in sorted(info):
        if cold[q]["error"]:
            failures += 1  # no result to check: the cold op failed
            continue
        want, got, bad = oracle.check_query(con, WORK / "oracle", q, info[q],
                                            str(run_dir / "dump" / q))
        cold[q]["rows"] = got["rows"]
        want_rows[q] = want["rows"]
        if want["source"] != "oracle":
            msgs.append(f"{q}: expected result is {want['source']}")
        if bad:
            failures += 1
            msgs.append(f"{q}: {bad}")
    con.close()
    for rnd in [res["warmup"]] + res["warm"]:
        for op in rnd["ops"]:
            if not op["error"] and op["name"] in want_rows and op["rows"] != want_rows[op["name"]]:
                op["mismatch"] = f"rows {op['rows']} != expected {want_rows[op['name']]}"
    return len(info), failures, msgs


def end_to_end(res, setups):
    untraced = [r for r in res["warm"] if not r["traced"]]
    ops = [op for r in untraced for op in r["ops"]]
    wall = sum(op["wall"] for op in ops)
    return {
        "setup_s": median(setups),
        "cold_s": res["cold"]["wall"],
        "warm_s": median(r["wall"] for r in untraced),
        "cpu_s": median(r["cpu"] for r in untraced),
        "rows_per_s": sum(op["rows"] for op in ops) / wall if wall > 0 else 0.0,
    }


def per_layer(res, workload):
    """Every per-layer metric the run can give; the ones that do not apply
    to the workload are left out (and reported as 0)."""
    warm = res["warm"]
    traced = [r for r in warm if r["traced"]]
    untraced = [r for r in warm if not r["traced"]]
    layers, fin = res.get("layers", {}), res["finish"]
    ops = [op for r in warm for op in r["ops"]]
    m = {}
    if workload == "ingest":
        for k in ("rest.requests", "rest.retries", "rest.fetches_per_chapter",
                  "rest.mb_served", "rest.server_busy_s"):
            m[k] = median(op["extra"].get(k, 0.0) for op in ops)
        m["rest.scan_s"] = layers.get("rest.scan_s", 0.0)
        m["normalize.s"] = layers.get("normalize.s", 0.0)
        m["normalize.markdown_s"] = layers.get("normalize.markdown_s", 0.0)
        m["normalize.ok_rows"] = fin.get("ok_rows", 0)
        m["normalize.error_rows"] = fin.get("error_rows", 0)
        m["sink.write_s"] = layers.get("sink.write_s", 0.0)
        m["sink.files"] = fin.get("sink_files", 0)
        m["sink.mb"] = fin.get("sink_mb", 0.0)
    else:
        m["scan.s"] = layers.get("scan.s", 0.0)
        m["scan.partitions"] = layers.get("scan.partitions", 0.0)
        modules = {q: v["module"] for q, v in fin["queries"].items()}
        for mod in set(modules.values()):
            m[f"module.{mod}.s"] = median(
                sum(op["wall"] for op in r["ops"] if modules[op["name"]] == mod)
                for r in warm)
        for q in modules:
            m[f"q.{q}.s"] = median(op["wall"] for op in ops if op["name"] == q)
    m["plan_s"] = median(sum(op["plan"] for op in r["ops"]) for r in warm)
    m["exec_s"] = median(sum(op["exec"] for op in r["ops"]) for r in warm)
    eng = [r["engine"] for r in traced]
    for k, src in (("stream.batches", "stream_batches"), ("stream.add_batch_s", "add_batch_s"),
                   ("stream.wal_commit_s", "wal_commit_s"), ("stream.planning_s", "planning_s"),
                   ("engine.jobs", "jobs"), ("engine.stages", "stages"),
                   ("engine.tasks", "tasks"), ("engine.sched_wait_s", "sched_wait_s"),
                   ("engine.failed_tasks", "failed_tasks"),
                   ("engine.executor_cpu_s", "executor_cpu_s"),
                   ("engine.executor_run_s", "executor_run_s"),
                   ("engine.input_mb", "input_mb"), ("engine.shuffle_write_mb", "shuffle_write_mb"),
                   ("engine.shuffle_read_mb", "shuffle_read_mb"), ("engine.spill_mb", "spill_mb")):
        m[k] = mean(e[src] for e in eng)
    m["engine.task_skew"] = median((s for e in eng for s in e["op_skew"]), 1.0)
    m["engine.codegen_compile_s"] = res["cold"]["codegen_compile_s"]
    m["engine.codegen_classes"] = res["cold"]["codegen_classes"]
    m["engine.gc_s"] = median(r["gc"] for r in warm)
    m["trace.overhead_s"] = (median(r["wall"] for r in traced) -
                             median(r["wall"] for r in untraced))
    m["trace.spans"] = res.get("spans", 0)
    m["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    return m


def run(args):
    t0 = time.monotonic()

    def left():  # the first run's build does not count against the deadline
        return max(1.0, RUN_DEADLINE_S - (time.monotonic() - built))

    def phase(name):
        print(f"perfbench: {name} done at {time.monotonic() - t0:.1f} s", file=sys.stderr)

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    phase("build")
    built = time.monotonic()
    inputs = prepare_inputs(args.workload, args.seed)
    phase("inputs")
    runs = WORK / "runs"
    run_dir = runs / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    log = run_dir / "jvm.log"
    common = [args.workload, inputs, cpus(), run_dir]
    setups = []
    for _ in range(SETUP_PROBES):
        out = jvm(classes, ["probe"] + common, log, left())
        setups.append(float(out.split("setup_s")[-1].split()[0]))
    phase("set-up probes")
    jvm(classes, ["run"] + common + [args.seed, args.seconds, args.trace], log, left())
    phase("measuring JVM")
    res = json.loads((run_dir / "result.json").read_text())
    setups.append(res["setup_s"])

    checks, check_failures, msgs = 0, 0, []
    if args.workload == "query_mix":
        checks, check_failures, msgs = check_queries(res, inputs, run_dir)
    phase("checks")
    timed = [op for r in [res["cold"], res["warmup"]] + res["warm"] for op in r["ops"]]
    bad_ops = [op for op in timed if op["error"] or op["mismatch"]]
    for op in bad_ops:
        msgs.append(f"op {op['name']} failed: {op['error'] or op['mismatch']}")
    attempted = len(timed) + checks
    failed = len(bad_ops) + check_failures

    warm = res["warm"]
    untraced = [r for r in warm if not r["traced"]]
    op_times = [op["wall"] for r in untraced for op in r["ops"]]
    print(f"workload {args.workload} seed {args.seed} local[{cpus()}]: measured rounds "
          f"{len(warm)} (untraced {len(untraced)}); op_p50_s {median(op_times):.4f} s "
          f"over {len(op_times)} untraced ops (not bounded: the ops of a round differ)")
    for m in msgs:
        print(f"check: {m}")
    if args.trace:
        metrics = per_layer(res, args.workload)
        units = dict(spec_metrics("per_layer"))
        print(f"span file: {run_dir / 'spans.jsonl'} ({res.get('spans', 0)} spans)")
        print("self time per layer (traced rounds, cold round and layer probes):")
        print(f"  {'span':<28}{'count':>8}{'total_s':>12}{'self_s':>12}")
        for name, st in sorted(res.get("selftime", {}).items(), key=lambda kv: -kv[1]["self_s"]):
            print(f"  {name:<28}{st['count']:>8}{st['total_s']:>12.4f}{st['self_s']:>12.4f}")
        tw = median(r["wall"] for r in warm if r["traced"])
        uw = median(r["wall"] for r in untraced)
        print(f"tracing overhead: traced warm_s {tw:.4f} - untraced warm_s {uw:.4f} "
              f"= {tw - uw:+.4f} s")
        pe = [(sum(op["plan"] + op["exec"] for op in r["ops"]), r["wall"]) for r in warm]
        print("plan_s + exec_s vs op wall per warm round: " +
              ", ".join(f"{a:.4f}/{b:.4f}" for a, b in pe))
    else:
        metrics = end_to_end(res, setups)
        units = dict(spec_metrics("end_to_end"))
    metrics = {k: metrics.get(k, 0.0) for k in units}
    print(f"fail_frac {failed / attempted if attempted else 1.0:.6f} ratio "
          f"({failed} of {attempted})")
    for k in units:
        print(f"{k} {metrics[k]:.6f} {units[k]}")

    # keep the record of the run, drop the bulky outputs
    for d in ("sink", "dump", "spark-local", "warehouse"):
        shutil.rmtree(run_dir / d, ignore_errors=True)
    os.utime(run_dir)
    _prune(runs, KEEP_RUNS)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))
    return 0


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    start = time.monotonic()
    try:
        rc = run(args)
    except Exception as e:  # no result line; the exit code tells the caller
        print(f"perfbench: {type(e).__name__}: {e}", file=sys.stderr)
        return 1
    print(f"perfbench: {time.monotonic() - start:.1f} s", file=sys.stderr)
    return rc


if __name__ == "__main__":
    sys.exit(main())
