#!/usr/bin/env python3
"""graft end-to-end benchmark: one command per workload run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the harness and the
engine from source (`perfbench/build.sbt`, sbt offline) and copies the sf0.1
test tables into `perfbench/.work/`; later runs reuse both.

Workloads (one closed-loop client, Spark local[N] with N = cores):
  etl_backfill        Pipeline.run over consecutive monthly slices, one fresh
                      output directory, graft-warehouse sink, idempotent dims;
                      the seed picks the window.
  registry_onepass    the single-pass queries of SparkEntry.queries.
  registry_iterative  the round-loop queries (not in BENCHMARK.json: it
                      does not fit the time budget of the benchmark's runs).
The two registry member lists (workloads.json) must partition
SparkEntry.queries; the harness checks this at start-up. Each registry run
times the list's `timed` sample; the seed permutes the order in each pass.

Output: the metrics by name with their unit, then, as the last line, one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
of an untraced run (--trace 0) or the per-layer metrics of a traced one
(--trace 1). Every run also writes a full report (per-operation times,
failures by name, output checks, trace summary) under perfbench/.work/reports.
A thrown operation or a failed output check counts in `failed`, is listed by
name, is never timed, and makes the command exit 1.

Environment: GRAFT_TESTDATA (test-table root, default ~/testdata) and
SPARK_HOME (Spark jars). A failed run leaves its logs in perfbench/.work/runs.
"""
import argparse
import datetime
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
SF = "sf0.1"
XMX = "2g"
# A fixed, pre-touched heap: peak RSS then reads heap + native memory
# instead of when the collector happened to grow the heap. C1 only: a run
# is too short for C2 to settle, and C2 compile threads compete with the
# task threads for the same cores.
JVM_OPTS = [f"-Xms{XMX}", "-XX:+AlwaysPreTouch", "-XX:TieredStopAtLevel=1"]
TMP = Path("/tmp")

# etl_backfill: the window must lie inside the months both lineitem and
# orders fully cover at sf0.1
ETL_FIRST, ETL_LAST = (1995, 1), (2001, 7)
ETL_MONTHS = 3
DATE_DIM_DAYS = (datetime.date(2026, 12, 31) - datetime.date(2020, 1, 1)).days + 1
TIME_DIM_ROWS = 24 * 60
DIMS = ["dim_part", "dim_supplier", "dim_nation", "dim_priority", "dim_segment"]

ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

# The host is shared: its hypervisor takes the virtual CPUs away from this
# machine for up to 40% of the time, in spells of minutes, and that
# stretches the wall time of the same code by as much. The kernel counts
# that time as stolen (`steal` in /proc/stat). The reported timings are
# wall time net of steal: the wall time of the interval times the share of
# the host's wanted CPU time (busy + stolen) that it actually got. Raw wall
# times stay in the report and in the wall.* metrics.

BUILD_TIMEOUT_S = 840
RUN_DEADLINE_S = 170


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cores():
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------------- build

def build():
    """Compile harness + engine when any source changed; returns classpath."""
    engine = ROOT / "src" / "main"
    if not (engine / "scala").is_dir():
        die(f"engine sources not found under {engine}")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not Path(spark_home, "jars").is_dir():
        die("SPARK_HOME does not point at a Spark install")
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (engine, HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    digest = h.hexdigest()
    classes = HERE / "target" / "scala-2.13" / "classes"
    stamp = WORK / "build.stamp"
    if not (stamp.exists() and stamp.read_text() == digest and classes.is_dir()):
        WORK.mkdir(parents=True, exist_ok=True)
        log = WORK / "build.log"
        with open(log, "w") as f:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                cwd=HERE, stdout=f, stderr=subprocess.STDOUT,
                timeout=BUILD_TIMEOUT_S).returncode
        if rc != 0:
            sys.stderr.write(log.read_text()[-4000:])
            die(f"build failed (exit {rc}), log in {log}")
        stamp.write_text(digest)
    return f"{classes}:{spark_home}/jars/*"


def data_dir():
    """A private copy of the test tables; fixture keys embed its path, so
    the benchmark only ever removes fixtures that it built."""
    dst = WORK / "data" / SF
    if (dst / ".complete").exists():
        return dst
    src = Path(os.environ.get("GRAFT_TESTDATA", Path.home() / "testdata")) / SF
    if not (src / "lineitem.parquet").exists():
        die(f"test tables not found at {src} (set GRAFT_TESTDATA)")
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)
    for p in [dst, *dst.rglob("*")]:
        p.chmod(0o755 if p.is_dir() else 0o644)
    (dst / ".complete").write_text("")
    return dst


# -------------------------------------------------------------- /tmp hygiene

def fixture_tag(data):
    return "".join(c if c.isalnum() else "_" for c in str(data))


def remove(paths):
    for p in paths:
        if p.is_dir() and not p.is_symlink():
            shutil.rmtree(p, ignore_errors=True)
        else:
            p.unlink(missing_ok=True)


def du(p):
    p = Path(p)
    if p.is_file():
        return p.stat().st_size, 1
    sizes = [f.stat().st_size for f in p.rglob("*") if f.is_file()]
    return sum(sizes), len(sizes)


# -------------------------------------------------------------------- host

def host_time():
    """[busy, stolen] clock ticks of the whole host, as Harness.HostTime."""
    try:
        v = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    except (OSError, ValueError, IndexError):
        return [0, 0]
    return [v[0] + v[1] + v[2] + v[5] + v[6], v[7]]


def steal_share(h):
    """Share of the wanted CPU time the hypervisor took, over an interval
    whose host time is `h` = [busy, stolen]."""
    busy, stolen = h
    return stolen / (busy + stolen) if busy + stolen > 0 else 0.0


def net(seconds, h):
    """Wall seconds net of steal."""
    return seconds * (1.0 - steal_share(h))


# ------------------------------------------------------------------ harness

def harness(classpath, mode, run_dir, args, deadline):
    out = run_dir / "result.json"
    cmd = ["java", *[x for o in ADD_OPENS for x in ("--add-opens", o)],
           f"-Xmx{XMX}", *JVM_OPTS, f"-Djava.io.tmpdir={run_dir / 'jtmp'}",
           "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Harness",
           "--mode", mode, "--work", str(run_dir), "--out", str(out),
           "--cores", str(cores())]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    (run_dir / "jtmp").mkdir(parents=True, exist_ok=True)
    host_at_spawn = host_time()
    t_spawn = time.time()
    with open(run_dir / "stdout.log", "w") as so, \
            open(run_dir / "stderr.log", "w") as se:
        proc = subprocess.Popen(cmd, stdout=so, stderr=se)
        try:
            rc = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die("harness exceeded the run deadline", 3)
    if rc != 0 or not out.exists():
        err = (run_dir / "stderr.log").read_text()
        lines = [l for l in err.splitlines() if "Exception" in l or "rror" in l]
        sys.stderr.write("\n".join(lines[:20]) + "\n")
        die(f"harness exited {rc}; log in {run_dir / 'stderr.log'}", 3)
    return t_spawn, host_at_spawn, json.loads(out.read_text())


def median(xs):
    return statistics.median(xs) if xs else float("nan")


# ------------------------------------------------------------ output checks

def oracle_check(data, verify, names):
    """The DuckDB oracle comparison of tools/check.py, called, not copied."""
    check = ROOT / "tools" / "check.py"
    if not check.exists():
        return {n: "tools/check.py not found" for n in names}
    r = subprocess.run([sys.executable, str(check), str(data), str(verify), *names],
                       capture_output=True, text=True, timeout=120)
    bad = {}
    for line in r.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("FAIL", "NEAR"):
            name, _, why = rest.partition(":")
            bad[name.strip()] = f"{word}:{why.strip()[:200]}"
    if r.returncode != 0 and not bad:
        bad["oracle_check"] = (r.stderr or r.stdout)[-300:]
    return bad


def etl_expected(data, months):
    """Fact rows each monthly slice should land, computed in DuckDB straight
    from the source tables (independent of the engine). The counts depend
    on the tables alone, so they are cached beside the table copy."""
    cache = data.parent / f"{data.name}.etl_expected.json"
    exp = json.loads(cache.read_text()) if cache.exists() else {}
    todo = [m for m in months if m not in exp]
    if todo:
        import duckdb
        con = duckdb.connect()
        t = {n: f"read_parquet('{data}/{n}.parquet')" for n in (
            "lineitem", "part", "supplier", "nation", "region", "orders",
            "customer")}
        for m in todo:
            s = datetime.date.fromisoformat(m)
            e = (s.replace(day=28) + datetime.timedelta(days=4)).replace(day=1)
            li = con.sql(
                f"SELECT count(*) FROM {t['lineitem']} l "
                f"JOIN {t['part']} p ON l.l_partkey = p.p_partkey "
                f"JOIN {t['supplier']} s ON l.l_suppkey = s.s_suppkey "
                f"JOIN {t['nation']} n ON s.s_nationkey = n.n_nationkey "
                f"JOIN {t['region']} r ON n.n_regionkey = r.r_regionkey "
                f"WHERE l.l_shipdate >= TIMESTAMP '{s}' "
                f"AND l.l_shipdate < TIMESTAMP '{e}'").fetchone()[0]
            od = con.sql(
                f"SELECT count(*) FROM {t['orders']} o "
                f"JOIN {t['customer']} c ON o.o_custkey = c.c_custkey "
                f"WHERE o.o_orderdate >= TIMESTAMP '{s}' "
                f"AND o.o_orderdate < TIMESTAMP '{e}'").fetchone()[0]
            exp[m] = {"fact_lineitem": li, "fact_orders": od}
        cache.write_text(json.dumps(exp, indent=1, sort_keys=True))
    return {m: exp[m] for m in months}


def etl_checks(res, expected):
    """The four etl_backfill invariants; returns {check name: reason}."""
    bad = {}
    landed, keys = res["landed"], res["distinct_keys"]
    done = [c["month"] for c in res["slice_counts"]]
    for t in ("fact_lineitem", "fact_orders"):
        want = sum(expected[m][t] for m in done)
        if landed.get(t) != want:
            bad[f"landed_rows.{t}"] = f"landed {landed.get(t)} != source {want}"
    if res["unmatched_keys"] != 0:
        bad["unmatched_keys"] = f"{res['unmatched_keys']} fact rows without a surrogate key"
    for d in DIMS:
        if keys.get(d) != landed.get(d):
            bad[f"unique_natural_keys.{d}"] = (
                f"{landed.get(d)} rows, {keys.get(d)} distinct natural keys")
    for d, n in (("dim_date", DATE_DIM_DAYS), ("dim_time", TIME_DIM_ROWS)):
        if keys.get(d) != n or landed.get(d) != n * len(done):
            bad[f"generated_rows.{d}"] = (
                f"{landed.get(d)} rows / {keys.get(d)} keys, want "
                f"{n * len(done)} / {n}")
    return bad


# ------------------------------------------------------------------- trace

def union_len(intervals):
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def clip(iv, lo, hi):
    return (max(iv[0], lo), min(iv[1], hi))


def reduce_trace(tr, op_layer, n_cores, out_dir=None):
    """Per-layer counts and times over the timed operations of a trace.
    Times in the trace are epoch milliseconds."""
    spans = {s["id"]: s for s in tr["spans"]}
    kids = {}
    for s in tr["spans"]:
        kids.setdefault(s["parent"], []).append(s["id"])

    def subtree(i):
        out, todo = set(), [i]
        while todo:
            j = todo.pop()
            out.add(j)
            todo += kids.get(j, [])
        return out

    timed_roots = [s for s in tr["spans"] if s["layer"] in ("pass", "pipeline")
                   and spans.get(s["parent"], {}).get("layer") != "setup"]
    ops = [s for s in tr["spans"] if s["layer"] == op_layer
           and any(s["id"] in subtree(r["id"]) for r in timed_roots)]
    phases = [(p, name, tuple(iv)) for p in tr["plans"]
              for name, iv in p["phases"].items()
              if name in ("analysis", "optimization", "planning")]
    m = {k: 0.0 for k in (
        "queries.construct_s", "queries.construct_jobs", "plans.analysis_s",
        "plans.optimization_s", "plans.planning_s", "plans.sql_actions",
        "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s",
        "exec.job_wall_s", "exec.gap_s", "exec.input_bytes",
        "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
        "exec.spill_bytes", "exec.failed_tasks", "core.persisted_rdds_peak",
        "io.write_s.dims", "io.write_s.facts", "io.commit_s",
        "self_s.operation", "self_s.construct", "self_s.execute")}
    # a write's SQL execution is the innermost one its planning ran inside
    # (QueryExecution ids and execution ids are separate sequences)
    writes = {}
    prefix = f"graft-warehouse:{out_dir}/"
    for p in tr["plans"]:
        t = (p["phases"].get("planning") or [None])[0]
        if not (out_dir and t is not None and (p["writes"] or "").startswith(prefix)):
            continue
        inside = [x for x in tr["sql"] if x["start"] <= t <= (x["end"] or float("inf"))]
        if inside:
            x = max(inside, key=lambda x: x["start"])
            writes[x["id"]] = p["writes"].rstrip("/").rsplit("/", 1)[-1]
    root = {x["id"]: x["root"] for x in tr["sql"]}
    for op in ops:
        lo, hi = op["start"], op["end"]
        tree = subtree(op["id"])
        jobs = [j for j in tr["jobs"] if j["span"] in tree or (
            j["span"] == -1 and lo <= j["start"] <= hi)]
        job_iv = [clip((j["start"], j["end"]), lo, hi) for j in jobs]
        cons = [spans[i] for i in tree if spans[i]["layer"] == "construct"]
        exe = [spans[i] for i in tree if spans[i]["layer"] == "execute"]
        cons_iv = [(c["start"], c["end"]) for c in cons]
        my_phases = [(p, n, iv) for p, n, iv in phases if lo <= iv[0] <= hi]
        plan_iv = [clip(iv, lo, hi) for _, _, iv in my_phases]
        m["queries.construct_s"] += sum(b - a for a, b in cons_iv) / 1e3
        cons_tree = set().union(*[subtree(c["id"]) for c in cons]) if cons else set()
        m["queries.construct_jobs"] += sum(1 for j in jobs if j["span"] in cons_tree)
        for _, n, iv in my_phases:
            m[f"plans.{n}_s"] += (iv[1] - iv[0]) / 1e3
        m["plans.sql_actions"] += len({id(p) for p, _, _ in my_phases})
        m["exec.jobs"] += len(jobs)
        for k in ("stages", "tasks", "failed_tasks"):
            m[f"exec.{k}"] += sum(j[k] for j in jobs)
        m["exec.task_s"] += sum(j["task_ms"] for j in jobs) / 1e3
        for k in ("input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                  "spill_bytes"):
            m[f"exec.{k}"] += sum(j[k] for j in jobs)
        jw = union_len(job_iv)
        m["exec.job_wall_s"] += jw / 1e3
        # wall not covered by construction, planning or any job
        m["exec.gap_s"] += ((hi - lo) - union_len(cons_iv + plan_iv + job_iv)) / 1e3
        m["core.persisted_rdds_peak"] = max(m["core.persisted_rdds_peak"],
                                            op["counts"].get("persisted_rdds", 0))
        # self time: a span's duration minus what its children cover
        children = [spans[i] for i in kids.get(op["id"], [])]
        m["self_s.operation"] += ((hi - lo) - union_len(
            [(c["start"], c["end"]) for c in children] + job_iv + plan_iv)) / 1e3
        for layer, group in (("construct", cons), ("execute", exe)):
            for c in group:
                sub = subtree(c["id"])
                iv = [clip((j["start"], j["end"]), c["start"], c["end"])
                      for j in jobs if j["span"] in sub]
                iv += [clip(p, c["start"], c["end"]) for p in plan_iv
                       if c["start"] <= p[0] <= c["end"]]
                m[f"self_s.{layer}"] += ((c["end"] - c["start"]) - union_len(iv)) / 1e3
        # writes into the ETL output directory: wall, and the part of it
        # outside the write's own jobs (staging moves and the manifest commit)
        for x in tr["sql"]:
            if x["id"] in writes and lo <= x["start"] <= hi:
                wall = x["end"] - x["start"]
                kind = "dims" if writes[x["id"]].startswith("dim_") else "facts"
                m[f"io.write_s.{kind}"] += wall / 1e3
                # its own jobs and those of executions nested under it
                wj = [j for j in jobs if x["id"] in (j["sql"], root.get(j["sql"]))]
                m["io.commit_s"] += (wall - union_len(
                    [clip((j["start"], j["end"]), x["start"], x["end"]) for j in wj])) / 1e3
    m["exec.core_util"] = (m["exec.task_s"] / (m["exec.job_wall_s"] * n_cores)
                           if m["exec.job_wall_s"] else 0.0)
    return m, len(ops)


# --------------------------------------------------------------- workloads

def op_net_s(o):
    return net(o["s"], o["host"])


def tally(ops, timed, etl, seconds=op_net_s):
    """Failures by name, per-operation medians and the pass time, of the
    operations' `seconds` (net of steal by default). A thrown operation is
    listed as a failure and never timed: the pass sums only operations that
    completed (per-query medians across the timed passes, or the slices of
    the ETL window)."""
    failures = {f"{o['name']}#pass{o['pass']}": o["error"][:300]
                for o in ops if o["error"]}
    per_op = {}
    for o in timed:
        if not o["error"]:
            per_op.setdefault(o["name"], []).append(seconds(o))
    medians = {n: median(v) for n, v in per_op.items()}
    pass_s = (sum(s for v in per_op.values() for s in v) if etl
              else sum(medians.values()))
    return failures, medians, pass_s


def etl_window(seed):
    first = ETL_FIRST[0] * 12 + ETL_FIRST[1] - 1
    last = ETL_LAST[0] * 12 + ETL_LAST[1] - 1
    start = first + random.Random(seed).randrange(last - first - ETL_MONTHS + 2)
    return [f"{(start + i) // 12}-{(start + i) % 12 + 1:02d}-01"
            for i in range(ETL_MONTHS)]


def run_workload(a, classpath, data, run_dir, deadline):
    tag = fixture_tag(data)
    # same starting state for every run: no fixture built by an earlier run
    remove([p for p in TMP.glob("graft_*") if "_" + tag in p.name])
    tmp_before = set(TMP.glob("graft_*"))
    common = {"seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "data": data, "run-id": run_dir.name}
    try:
        if a.workload == "etl_backfill":
            months = etl_window(a.seed)
            out_dir = run_dir / "out"
            t_spawn, h_spawn, res = harness(classpath, "etl", run_dir, {
                **common, "out-dir": out_dir, "warm-dir": run_dir / "warm",
                "warm-month": months[0], "months": ",".join(months)}, deadline)
            ops = res["ops"]
            expected = etl_expected(data, months)
            bad = etl_checks(res, expected)
            checks = 4
            rows = sum(res["landed"][t] for t in ("fact_lineitem", "fact_orders"))
            stored, files = du(out_dir)
            extra = {"window": months, "expected": expected, "landed": res["landed"],
                     "stored_bytes": stored, "files": files}
        else:
            spec = json.loads((HERE / "workloads.json").read_text())
            members = spec[a.workload]["timed"]
            skip = spec[a.workload]["oracle_skip"]
            verify = run_dir / "verify"
            verify.mkdir(parents=True, exist_ok=True)
            partition = "|".join(",".join(w["members"]) for w in spec.values())
            t_spawn, h_spawn, res = harness(classpath, "registry", run_dir, {
                **common, "members": ",".join(members), "partition": partition,
                "verify": verify, "skip-verify": ",".join(skip) or ","}, deadline)
            ops = res["warm"] + res["ops"]
            checked = sorted(json.loads((verify / "oracle_sql.json").read_text()))
            bad = oracle_check(data, verify, checked)
            checks = len(checked)
            rows = stored = files = 0
            extra = {"oracle_checked": checked,
                     "oracle_skipped": {n: skip[n] for n in members if n in skip}}
    finally:
        # every /tmp entry this run created: recorded, then removed, also
        # when the run fails
        created = sorted(set(TMP.glob("graft_*")) - tmp_before)
        fixture_sizes = [du(p)[0] for p in created if "_" + tag in p.name]
        remove(created)
    tmp_extra = {"tmp_created": [p.name for p in created],
                 "fixture_dirs_built": len(fixture_sizes),
                 "fixture_bytes": sum(fixture_sizes)}

    etl = a.workload == "etl_backfill"
    failures, medians, pass_s = tally(ops, res["ops"], etl)
    wall_pass_s = tally([], res["ops"], etl, lambda o: o["s"])[2]
    for k, v in bad.items():
        failures[f"check:{k}"] = v
    attempted = len(ops) + checks
    timed = res["ops"]
    ok = [o for o in timed if not o["error"]]
    slice_s = median([op_net_s(o) for o in ok]) if etl else 0.0
    wall_setup_s = res["timing_start_ms"] / 1e3 - t_spawn
    h_setup = [x - y for x, y in zip(res["host_at_timing"], h_spawn)]
    h_pass = [sum(o["host"][i] for o in ok) for i in (0, 1)]
    wall = {"wall.setup_s": wall_setup_s, "wall.pass_s": wall_pass_s,
            "host.steal_share": steal_share(h_pass)}
    e2e = {
        "setup_s": (net(wall_setup_s, h_setup), "s"),
        "pass_s": (pass_s, "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "cores": cores(), "xmx": XMX,
              "passes": res.get("passes", 1), "timed_wall_s": res["timed_wall_s"],
              "samples": len(ok), "per_op_median_s": medians,
              "op_times_s": [[o["name"], o["pass"], o["s"], op_net_s(o)] for o in timed],
              "warm_s": [[o["name"], o["s"]] for o in res.get("warm", [])],
              "failures": failures, "end_to_end": {k: v[0] for k, v in e2e.items()},
              "wall": wall,
              **extra, **tmp_extra}
    if a.trace:
        layer_m, n_ops = reduce_trace(res["trace"], "pipeline" if etl else "queries",
                                      cores(), run_dir / "out" if etl else None)
        slices = n_ops if etl else 0
        fresh = res.get("dim_fresh", [])
        built = sum(b for _, b in fresh)
        layer_m.update({
            "core.fixture_dirs_built": tmp_extra["fixture_dirs_built"],
            "core.fixture_bytes": tmp_extra["fixture_bytes"],
            "core.fixture_builds_timed": len(set(res.get("fixtures_after", [])) -
                                             set(res.get("fixtures_before_timing", []))),
            "core.leaked_tmp_dirs": len(created),
            "core.unmatched_keys": res.get("unmatched_keys", 0),
            "pipeline.jobs_per_slice": layer_m["exec.jobs"] / slices if slices else 0.0,
            "pipeline.slice_s": slice_s,
            "io.files_written": files,
            "io.bytes_written": stored,
            "io.bytes_per_file": stored / files if files else 0.0,
            "io.stored_bytes_per_row": stored / rows if stored and rows else 0.0,
            "pipeline.rows_per_s": rows / pass_s if rows and pass_s else 0.0,
            "dims.fresh_ratio": sum(f for f, _ in fresh) / built if built else 0.0,
            "jvm.gc_s": res["gc_s"],
            "jvm.heap_peak_mb": res["heap_peak_mb"],
            **wall,
        })
        report["per_layer"] = layer_m
        trace_file = WORK / "reports" / f"{run_dir.name}.trace.json"
        trace_file.parent.mkdir(parents=True, exist_ok=True)
        trace_file.write_text(json.dumps(res["trace"]))
        report["trace_file"] = str(trace_file.relative_to(ROOT))
        base = baseline_medians(a.workload)
        if base:
            report["tracing_overhead"] = {
                k: {"traced": v[0], "untraced_median": base[k],
                    "ratio": v[0] / base[k] - 1 if base[k] else None}
                for k, v in e2e.items() if k in base}
    elif a.workload == "etl_backfill":
        report["slice_s"] = slice_s
        report["rows_per_s"] = rows / pass_s if pass_s else None
        report["stored_bytes_per_row"] = stored / rows if rows else None
    return e2e, report, attempted, failures


def spec_metrics(kind):
    return json.loads((ROOT / "BENCHMARK.json").read_text())[kind]


def baseline_medians(workload):
    p = HERE / "BASELINE.json"
    if not p.exists():
        return None
    w = json.loads(p.read_text()).get("workloads", {}).get(workload, {})
    return {k: v["median"] for k, v in w.get("end_to_end", {}).items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["etl_backfill", "registry_iterative", "registry_onepass"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    classpath = build()
    data = data_dir()
    deadline = time.time() + RUN_DEADLINE_S
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    run_dir = WORK / "runs" / run_id
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    e2e, report, attempted, failures = run_workload(a, classpath, data, run_dir, deadline)
    reports = WORK / "reports"
    reports.mkdir(exist_ok=True)
    (reports / f"{run_id}.json").write_text(json.dumps(report, indent=1))
    shutil.rmtree(run_dir, ignore_errors=True)
    for k, (v, unit) in e2e.items():
        print(f"{a.workload} {k} = {v:.6g} {unit}")
    for k, v in report["wall"].items():
        print(f"{a.workload} {k} = {v:.6g}")
    for name, why in sorted(failures.items()):
        print(f"FAILED {name}: {why}")
    if a.trace:
        metrics = {m["name"]: {"value": report["per_layer"][m["name"]], "unit": m["unit"]}
                   for m in spec_metrics("per_layer")}
        for k, ov in report.get("tracing_overhead", {}).items():
            if ov["ratio"] is not None:
                print(f"tracing overhead {k}: {ov['ratio']:+.1%}")
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec_metrics("end_to_end")}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
