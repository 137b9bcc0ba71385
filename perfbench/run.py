"""Benchmark entry point: run one user job end to end and print its metrics.

    python3 perfbench/run.py --workload migrate|migrate_jdbc|release_stream \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program from source (first run
only) and generates the seeded inputs (cached per seed). Then it runs the
job the way a user does, in a closed loop: one JVM per job (start,
SparkSession, run the job, exit), one after another, until `--seconds`
have passed. A `--trace 0` run runs one job at least; a `--trace 1` run
a traced job, then an untraced one when it fits in the deadline.
Each job's outputs are checked outside its timed window.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics`. With `--trace 0` the metrics are the end-to-end
ones; with `--trace 1` the per-layer ones. The line before it is the
run context (source digest, seed, cores, load, JVM and Spark versions,
input sizes, every job's samples). Everything the run writes stays under
`.bench_build/`.
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

import pyarrow.parquet as pq  # noqa: E402

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

LOAD_AT_START = os.getloadavg()[0]
ROOT = build.ROOT
BUILD = build.BUILD
PLAN = os.path.join(HERE, "plan.json")

SCALE = {"migrate": 0.5, "migrate_jdbc": 0.1}
# release_stream: day-0 documents, crawl batches (K) and documents per batch
RELEASE = {"docs": 500, "batches": 2, "batch_docs": 100}
WORKLOADS = sorted(SCALE) + ["release_stream"]
# local[N] of a job, and the processors its JVM is sized for (JIT and GC
# threads); the release is bound by Spark job count and its driver, and
# on 2 cores it takes as long as on 4 with fewer threads and less CPU
CORES = {"release_stream": 2}
DEADLINE_S = 170        # a run never outlives this once its inputs are ready

END_TO_END = [("setup_s", "s"), ("job_s", "s"), ("cpu_s", "s"), ("out_mb", "MB")]
RELEASE_LAYERS = (
    [(f"release_run.{st}.{k}", u) for st in ("s0", "s1", "s2", "s3", "s4", "s5", "s6", "s9")
     for k, u in (("wall_s", "s"), ("jobs", "count"))] +
    [("incremental.bootstrap_s", "s"), ("incremental.bootstrap_jobs", "count"),
     ("incremental.delta_jobs", "count"), ("incremental.delta_task_s", "s"),
     ("incremental.delta_growth", "ratio")] +
    [(f"incremental.stage.incr_{x}.wall_s", "s")
     for x in ("1", "2", "3", "3b", "4", "5", "6", "7", "9")] +
    [("incremental.forget_jobs", "count"), ("incremental.artifact_s", "s"),
     ("stores.segments", "count"), ("stores.files", "count"), ("stores.mb", "MB"),
     ("stores.tombstone_ppm", "ppm"), ("stores.write_amplification", "ratio"),
     ("stores.compact_s", "s"), ("stores.mb_rewritten", "MB"),
     ("stream.trigger_s", "s"), ("stream.addbatch_s", "s"), ("stream.overhead_s", "s")])
PER_LAYER = [
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.task_s", "s"),
    ("spark.utilisation", "ratio"), ("spark.driver_only_s", "s"),
    ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
    ("spark.input_mb", "MB"), ("spark.spill_mb", "MB"), ("spark.gc_s", "s"),
    ("spark.persisted_rdds_left", "count"), ("spark.failed_tasks", "count"),
    ("catalyst.queries", "count"), ("catalyst.analysis_s", "s"),
    ("catalyst.optimization_s", "s"), ("catalyst.planning_s", "s"),
    ("catalyst.exchanges", "count"),
    ("transportor.build_s", "s"), ("transportor.build_jobs", "count"),
    ("tableio.write_s", "s"), ("tableio.write_max_s", "s"),
    ("tableio.rows_written", "count"), ("tableio.read_amplification", "ratio"),
    ("jdbc.rows_per_s", "1/s"), ("jdbc.merge_s", "s"),
] + RELEASE_LAYERS + [
    ("upsert_s", "s"), ("day0_s", "s"), ("delta_p50_s", "s"), ("forget_s", "s"),
    ("rss_peak_mb", "MB"), ("fail_ratio", "ratio"), ("trace.overhead_s", "s"),
]
# per-layer metrics read from the untraced job of a --trace 1 run
UNTRACED = ("upsert_s", "day0_s", "forget_s", "rss_peak_mb")
MB = 1024.0 * 1024.0

JVM_OPTS = [
    "-Xmx2g", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                 "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                 "java.base/java.nio", "java.base/java.util",
                 "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                 "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                 "java.base/sun.security.action", "java.base/sun.util.calendar")
     for x in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def java(cp, work, args, timeout, cores):
    """Run PerfMain in its own JVM, sized for `cores` processors, with
    every temp/log path under `work`. Returns (its result file or None if
    it wrote none, its exit code or "timeout")."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result = os.path.join(work, "result.json")
    cmd = (["java", f"-XX:ActiveProcessorCount={cores}"] + JVM_OPTS +
           [f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
            f"-Dderby.stream.error.file={work}/derby.log",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", "-cp", cp,
            "perfbench.PerfMain"] + args +
           ["--result", result, "--launched-ns", str(time.time_ns())])
    with open(os.path.join(work, "jvm.log"), "ab") as out:
        try:
            code = subprocess.run(cmd, stdout=out, stderr=out, timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0:
        log(f"job process exited with {code}; see {work}/jvm.log")
    if not os.path.exists(result):
        return None, code
    with open(result) as f:
        return json.load(f), code


def inputs(workload, seed, scale=None):
    """Generated inputs for this workload and seed (cached)."""
    if workload == "release_stream":
        r = dict(RELEASE, **(scale or {}))
        d = os.path.join(BUILD, "inputs",
                         f"release-seed{seed}-{r['docs']}x{r['batches']}x{r['batch_docs']}")
        return d, gen.write_release(d, seed, r["docs"], r["batches"], r["batch_docs"])
    scale = SCALE[workload] if scale is None else scale
    d = os.path.join(BUILD, "inputs", f"seed{seed}-x{scale}")
    return d, gen.write(d, seed, scale)


DERBY_TYPES = {"int32": "INTEGER", "int64": "BIGINT", "double": "DOUBLE",
               "string": "VARCHAR(200)", "date32[day]": "DATE"}


def _csv_field(v):
    """Derby import: NULL is an empty unquoted field, text is quoted."""
    if v is None:
        return ""
    if isinstance(v, (int, float)):
        return repr(v)
    return '"' + str(v).replace('"', '""') + '"'


def derby_source(data, manifest, cp):
    """The generated tables as an embedded Derby database (cached next to
    the parquet), bulk-loaded from CSV by Derby's own `ij` tool. Column
    names are quoted lower case, as Spark's JDBC writer would create them;
    strings are VARCHAR, as a source schema would declare them."""
    db = data + "-derby"
    if os.path.exists(os.path.join(db, "perfbench.loaded")):
        return db
    shutil.rmtree(db, ignore_errors=True)
    stage = data + "-csv"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    sql = [f"connect 'jdbc:derby:{db};create=true';"]
    for t in manifest["tables"]:
        table = pq.read_table(os.path.join(data, t + ".parquet"))
        cols = ", ".join(f'"{f.name}" {DERBY_TYPES[str(f.type)]}' for f in table.schema)
        path = os.path.join(stage, t + ".csv")
        with open(path, "w") as f:
            for row in zip(*(c.to_pylist() for c in table.columns)):
                f.write(",".join(_csv_field(v) for v in row) + "\n")
        sql += [f"CREATE TABLE {t} ({cols});",
                f"CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, '{t.upper()}', '{path}', "
                f"',', '\"', 'UTF-8', 0);"]
    sql += ["disconnect;", f"connect 'jdbc:derby:{db};shutdown=true';", "exit;"]
    script = os.path.join(stage, "load.sql")
    with open(script, "w") as f:
        f.write("\n".join(sql) + "\n")
    out = subprocess.run(
        ["java", "-XX:-UsePerfData", f"-Dderby.stream.error.file={stage}/derby.log",
         "-cp", cp, "org.apache.derby.tools.ij", script],
        capture_output=True, text=True, timeout=120).stdout
    errors = [l for l in out.splitlines() if l.startswith("ERROR") and "08006" not in l]
    if errors:
        raise RuntimeError(f"loading the Derby source failed: {errors[:3]}")
    open(os.path.join(db, "perfbench.loaded"), "w").close()
    shutil.rmtree(stage, ignore_errors=True)
    return db


def cpu_stat():
    """Host-wide (iowait, steal) seconds so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = f.readline().split()[1:]
        tick = os.sysconf("SC_CLK_TCK")
        return int(v[4]) / tick, int(v[7]) / tick
    except (OSError, IndexError, ValueError):
        return 0.0, 0.0


def med(xs):
    return statistics.median(xs) if xs else 0.0


def self_times(span_sets):
    """Median over traced jobs of each span's self time: its duration minus
    the part of it its child spans cover (children run one at a time).
    Per-table spans (`tableio.writeTarget:<table>`) are summed per layer."""
    per = {}
    for spans in span_sets:
        acc = {}
        for s in spans:
            kids = sum(k["end_ns"] - k["start_ns"] for k in spans if k["parent"] == s["id"])
            name = s["name"].split(":")[0]
            acc[name] = acc.get(name, 0.0) + (s["end_ns"] - s["start_ns"] - kids) / 1e9
        for name, v in acc.items():
            per.setdefault(name, []).append(v)
    return {name: med(v) for name, v in sorted(per.items())}


def context(seed, manifest, jobs):
    stamp = os.path.join(BUILD, "classes.stamp")
    sha = None
    try:  # only when the checkout itself is a git work tree
        top, head = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10).stdout.split()
        if os.path.realpath(top) == os.path.realpath(ROOT):
            sha = head
    except (OSError, ValueError, subprocess.SubprocessError):
        pass
    keys = ("traced", "setup_s", "job_s", "cpu_s", "upsert_s", "day0_s", "delta_s",
            "forget_s", "rss_peak_mb", "out_bytes", "error")
    return {
        "git_sha": sha,
        "source_sha256": open(stamp).read() if os.path.exists(stamp) else None,
        "seed": seed, "nproc": os.cpu_count(), "loadavg_1m_at_start": LOAD_AT_START,
        "jvm": next((r["jvm"] for r in jobs if "jvm" in r), None),
        "spark": next((r["spark"] for r in jobs if "spark" in r), None),
        "input_rows": manifest["rows"], "input_bytes": manifest["bytes"],
        "input_tables": {t: v["rows"] for t, v in manifest["tables"].items()},
        "jobs": [{k: r[k] for k in keys if k in r} for r in jobs],
    }


def job_args(workload, data, manifest, work, cores, traced):
    args = ["--workload", workload, "--data", data, "--work", work, "--cores", str(cores),
            "--trace", str(int(traced))]
    if workload == "release_stream":
        staged = os.path.join(work, "staged")
        shutil.copytree(os.path.join(data, "batches"), staged)
        return args + ["--staged", staged, "--batches", str(manifest["batches"])]
    rows = manifest["rows"] - manifest["tables"]["orders_delta"]["rows"]
    args += ["--plan", PLAN, "--input-rows", str(rows)]
    if workload == "migrate":
        return args + ["--target-dir", os.path.join(work, "out")]
    return args + ["--tgt-db", os.path.join(work, "tgt_db"), "--dump", os.path.join(work, "dump"),
                   "--part-upper", str(4 * manifest["tables"]["orders"]["rows"])]


def job_checks(workload, data, manifest, work, r):
    if workload == "release_stream":
        return check.check_release(data, manifest, r)
    out = os.path.join(work, "dump" if workload == "migrate_jdbc" else "out")
    return check.check_outputs(data, out, upserted=workload == "migrate_jdbc")


def run(workload, seed, seconds, trace, scale=None, keep=None):
    """One benchmark run: job processes one after another until `seconds`
    of them have passed (at least one; with --trace 1 a traced one, then
    an untraced one if it fits), each checked. Returns (result line,
    context, checks)."""
    cp = build.build()
    data, manifest = inputs(workload, seed, scale)
    db = derby_source(data, manifest, cp) if workload == "migrate_jdbc" else None
    cores = max(1, min(CORES.get(workload, 4), os.cpu_count() or 1))
    # a --trace 1 run always runs its traced job, first; the untraced one
    # follows when it may fit in the deadline, and is dropped, not
    # failed, when the deadline cuts it (two release jobs take about 150 s
    # of the 180 s a run may take, and a slow host can take more)
    kinds = [True, False] if trace else [False]
    dropped = None

    t_start = time.time()
    jobs, checks, stat0 = [], [], cpu_stat()
    measured = longest = 0.0
    while kinds or measured < seconds:
        if jobs and time.time() - t_start + longest > DEADLINE_S:
            dropped = "not started: it would not end before the deadline"
            break
        traced = kinds.pop(0) if kinds else (trace == 1 and len(jobs) % 2 == 0)
        work = os.path.join(BUILD, "work")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        args = job_args(workload, data, manifest, work, cores, traced)
        if db:
            args += ["--src-db", db]
        t0 = time.time()
        r, code = java(cp, work, args, DEADLINE_S - (t0 - t_start), cores)
        if code == "timeout" and jobs:
            dropped = "cut by the deadline"
            break
        took = time.time() - t0
        measured += took
        longest = max(longest, took)
        if r is None or "job_s" not in r:  # the process died before it measured
            r = {"attempted": 1, "failed": 1, "error": "no result", **(r or {})}
            r["failed"] = r["attempted"]
        r["traced"] = traced
        jobs.append(r)
        if "error" in r:
            log(f"job error: {r['error']}")
        for name, ok, detail in job_checks(workload, data, manifest, work, r):
            checks.append((name, ok, detail))
            if not ok:
                log(f"check failed: {name}: {detail}")
        if keep:
            shutil.rmtree(keep, ignore_errors=True)
            shutil.copytree(work, keep, ignore=shutil.ignore_patterns("tmp", "spark-local"))
    stat1 = cpu_stat()

    attempted = sum(r["attempted"] for r in jobs) + len(checks)
    failed = sum(r["failed"] for r in jobs) + sum(1 for _, ok, _ in checks if not ok)
    ok_jobs = [r for r in jobs if "job_s" in r]
    plain = [r for r in ok_jobs if not r["traced"]]
    traced = [r for r in ok_jobs if r["traced"]]

    def m(rs, key):
        return med([r[key] for r in rs if key in r])

    if trace:
        values = {n: med([r["layers"].get(n, 0.0) for r in traced if "layers" in r])
                  for n, _ in PER_LAYER}
        # without an untraced job the user-visible numbers come from the
        # traced one, and the overhead reads 0 (the context says so)
        base = plain or traced
        for n in UNTRACED:
            values[n] = m(base, n)
        values["delta_p50_s"] = med([med(r["delta_s"]) for r in base if "delta_s" in r])
        values["fail_ratio"] = failed / attempted
        values["trace.overhead_s"] = m(traced, "job_s") - m(plain, "job_s") if plain else 0.0
        units = PER_LAYER
    else:
        values = {"setup_s": m(plain, "setup_s"), "job_s": m(plain, "job_s"),
                  "cpu_s": m(plain, "cpu_s"), "out_mb": m(plain, "out_bytes") / MB}
        units = END_TO_END
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": values.get(n, 0.0), "unit": u} for n, u in units}}
    ctx = context(seed, manifest, jobs)
    ctx["host_iowait_s"], ctx["host_steal_s"] = (b - a for a, b in zip(stat0, stat1))
    if workload == "release_stream":
        ctx["delta_batches"] = manifest["batches"]
    if trace:
        ctx["untraced_job"] = "ran" if plain else f"skipped, {dropped}"
        # every span of one traced job carries that job's run id
        ctx["spans"] = [[dict(sp, run=f"{workload}-seed{seed}-job{i}") for sp in r.get("spans", [])]
                        for i, r in enumerate(jobs) if r["traced"] and "job_s" in r]
    return line, ctx, checks


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans-out", default=None,
                    help="with --trace 1: also write the spans and context here")
    a = ap.parse_args()
    line, ctx, _ = run(a.workload, a.seed, a.seconds, a.trace)
    spans = ctx.pop("spans", None)
    if a.spans_out and spans is not None:
        with open(a.spans_out, "w") as f:
            json.dump({"result": line, "self_time_s": self_times(spans), "context": ctx,
                       "spans": spans}, f, indent=1)
    print(json.dumps({"context": ctx}))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
