#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one command that builds the program,
runs one workload, checks its outputs and prints the metrics.

    python3 perfbench/run.py --workload bi-floor --seed 1 --seconds 20 --trace 0

Run it from the repository root. The last line of standard output is the
result: {"correct", "attempted", "failed", "metrics"}. The line before it is
a detailed report ({"perfbench": ...}) with every metric's unit, workload and
sample count, the host conditions and the per-op load. See README.md.
"""

import argparse
import decimal
import csv
import glob
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("bi-floor", "warehouse-load", "corpus-heavy")
# Spark task slots: at most 4, so hosts with more cores run the same plan
SLOTS = max(1, min(4, os.cpu_count() or 1))
HEAP = "4g"
JVM_TIMEOUT_S = 165
CACHE = os.path.join(ROOT, ".bench_build", "perfbench")

# Spark on JDK 17 outside spark-submit needs these (the program's own
# build passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_files():
    """Every file the build reads, program and harness."""
    out = [os.path.join(ROOT, "build.sbt"),
           os.path.join(ROOT, "project", "build.properties"),
           os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files]
    return sorted(out)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    return env


def build():
    """Compiles program and harness when their sources changed; returns
    the runtime classpath and the source stamp."""
    stamp = source_stamp()
    cp_file = os.path.join(CACHE, "classpath")
    stamp_file = os.path.join(CACHE, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip(), stamp
    os.makedirs(CACHE, exist_ok=True)
    log = os.path.join(CACHE, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1], stamp


# ------------------------------------------------------------------- data

def data_dirs():
    """(sf0.1 dir, sf0.01 dir): SPARK_GRAFT_SF_DIR if set, otherwise the
    default the program's own bench main reads."""
    sf = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf:
        pat = re.compile(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"')
        for f in source_files():
            if f.endswith(".scala"):
                with open(f, encoding="utf-8") as fh:
                    m = [p for p in pat.findall(fh.read())
                         if p.endswith("sf0.1")]
                if m:
                    sf = m[0]
                    break
    if not sf or not os.path.isdir(sf):
        fail(f"no sf0.1 data directory (set SPARK_GRAFT_SF_DIR); got {sf!r}")
    small = os.path.join(os.path.dirname(sf.rstrip("/")), "sf0.01")
    if not os.path.isdir(small):
        fail(f"no sf0.01 data directory next to {sf}")
    return sf, small


# ------------------------------------------------------ warehouse-load input

# A pass starts from one month of history (loaded untimed, which also warms
# the load path), then uploads NEW_MONTHS - 1 more, so the catalog (which
# folds every NEW_MONTHS commits, Workloads.CompactEvery) folds the fact
# table on the last. After each new month from the second timed one on, a
# seeded earlier month is uploaded again.
NEW_MONTHS = 4


def ledger_plan(months, seed):
    """(chosen months, upload plan): a seeded window of consecutive months,
    and the uploads in order as (month, "base" | "new" | "again")."""
    rnd = random.Random(seed)
    first = rnd.randrange(len(months) - NEW_MONTHS + 1)
    chosen = months[first:first + NEW_MONTHS]
    plan = [(chosen[0], "base")]
    for i in range(1, NEW_MONTHS):
        plan.append((chosen[i], "new"))
        if i >= 2:
            plan.append((chosen[rnd.randrange(i + 1)], "again"))
    return chosen, plan


def ledger_row(o):
    """A ledger CSV row from an `orders` row, with the column mapping of the
    program's warehouse e2e query (q68): Brazilian-locale Valor (decimal
    comma, two places) and MM/yyyy Data."""
    d = o["o_orderdate"]
    valor = decimal.Decimal(repr(o["o_totalprice"])).quantize(
        decimal.Decimal("0.01"), rounding=decimal.ROUND_HALF_UP)
    return [f"pedido {o['o_orderkey']}", o["o_orderpriority"], o["o_orderstatus"],
            f"c{o['o_custkey'] % 10}", f"cl{o['o_orderkey'] % 4}",
            f"{d.month:02d}/{d.year}", str(valor).replace(".", ",")]


def write_ledger_csvs(sf, root, seed):
    """Writes one CSV directory per chosen month (root/ym=YYYY-MM/) and the
    upload plan (root/plan.txt) the harness follows."""
    import pyarrow.parquet as pq
    orders = pq.read_table(os.path.join(sf, "orders.parquet")).to_pylist()
    by_month = {}
    for o in orders:
        d = o["o_orderdate"]
        by_month.setdefault(f"{d.year:04d}-{d.month:02d}", []).append(o)
    chosen, plan = ledger_plan(sorted(by_month), seed)
    header = ["Descrição", "Tipo", "Grupo", "Categoria", "Classificação",
              "Data", "Valor"]
    for m in chosen:
        os.makedirs(os.path.join(root, f"ym={m}"))
        with open(os.path.join(root, f"ym={m}", "ledger.csv"), "w",
                  newline="", encoding="utf-8") as fh:
            w = csv.writer(fh)
            w.writerow(header)
            w.writerows(ledger_row(o) for o in
                        sorted(by_month[m], key=lambda o: o["o_orderkey"]))
    with open(os.path.join(root, "plan.txt"), "w") as fh:
        fh.writelines(f"{m} {kind}\n" for m, kind in plan)


# --------------------------------------------------------------------- run

def run_jvm(args, classpath, work, out):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # -XX:-UsePerfData: no hsperfdata file outside the run directory
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    sf, small = data_dirs()
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", sf, "--small", small, "--work", work, "--out", out,
            "--slots", str(SLOTS), "--population", os.path.join(HERE, "workloads")]
    log = os.path.join(work, "jvm.log")
    if args.workload == "warehouse-load":
        write_ledger_csvs(sf, os.path.join(work, "csv"), args.seed)
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also reached when this script is interrupted: never leave
            # the JVM running
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log, errors="replace") as fh:
            tail = fh.readlines()[-40:]
        sys.stderr.write("".join(tail))
        fail(f"benchmark JVM failed ({rc})", 1)
    with open(out) as fh:
        return json.load(fh)


# ------------------------------------------------------------- correctness

def load_expected():
    with open(os.path.join(HERE, "expected", "digests.json")) as fh:
        return json.load(fh)


def check_digests(res, expected):
    """(attempted, failures) over the run's untimed correctness checks."""
    failures = []
    for c in res["checks"]:
        if c["kind"] == "failed":
            failures.append(f"{c['name']}: {c['error']}")
            continue
        want = expected.get(c["scale"], {}).get(c["name"])
        got = stats.parquet_digest(c["dir"])
        if want != got:
            failures.append(f"{c['name']}@{c['scale']}: digest {got} != {want}")
    return len(res["checks"]), failures


def ledger_expectation(csv_root, months):
    """Fact rows and sum(valor) the uploaded CSVs must produce, computed
    here from the files: one row per distinct id_hash, where id_hash is
    the MD5 of the six raw fields as the ledger's reference defines it."""
    seen = {}
    for m in months:
        for f in sorted(glob.glob(os.path.join(csv_root, f"ym={m}", "*.csv"))):
            with open(f, newline="", encoding="utf-8") as fh:
                for r in csv.DictReader(fh):
                    key = "-".join([
                        r["Tipo"].strip().lower(), r["Grupo"].strip().lower(),
                        r["Categoria"].strip().lower(), r["Data"].strip(),
                        r["Descrição"].strip().lower(), r["Valor"]])
                    h = hashlib.md5(key.encode()).hexdigest()
                    valor = decimal.Decimal(
                        r["Valor"].replace(".", "").replace(",", "."))
                    seen.setdefault(h, valor)
    return len(seen), sum(seen.values(), decimal.Decimal(0))


def check_ledger(res):
    """(attempted, failures) over the warehouse invariants of every pass."""
    failures, attempted = [], 0
    extra = res["extra"]
    for i, p in enumerate(extra.get("ledger_passes", [])):
        rows, total = ledger_expectation(extra["csv_root"], p["months"])
        attempted += 3
        if p["fact_rows"] != rows:
            failures.append(f"pass {i}: fact rows {p['fact_rows']} != {rows}")
        if decimal.Decimal(p["fact_sum_valor"] or "0") != total:
            failures.append(f"pass {i}: sum(valor) {p['fact_sum_valor']} != {total}")
        bad = sorted(t for t, ok in p["dims_distinct"].items() if not ok)
        if bad:
            failures.append(f"pass {i}: dimension keys not distinct in {bad}")
    return attempted, failures


# ----------------------------------------------------------------- metrics

PRIMARY = {"bi-floor": ("query",), "corpus-heavy": ("query",),
           "warehouse-load": ("upload", "reupload")}
READS = {"bi-floor": ("query",), "corpus-heavy": ("query",),
         "warehouse-load": ("read",)}


def end_to_end(res):
    w = res["workload"]
    ops = [o for o in res["ops"] if o["ok"]]
    prim = [o["latency_s"] for o in ops if o["kind"] in PRIMARY[w]]
    reads = [o["latency_s"] for o in ops if o["kind"] in READS[w]]
    by_pass = {}
    for o in res["ops"]:
        by_pass[o["pass"]] = by_pass.get(o["pass"], 0.0) + o["latency_s"]
    def pct(xs, q):  # no successful op: the run is failed, report 0
        return stats.percentile(xs, q) if xs else 0.0
    return {
        "setup_s": ("s", (res["first_op_ms"] - res["jvm_start_ms"]) / 1e3, 1),
        "wall_s": ("s", statistics.median(by_pass.values()), len(by_pass)),
        "latency_p50_s": ("s", pct(prim, 50), len(prim)),
        "latency_p75_s": ("s", pct(prim, 75), len(prim)),
        "read_p50_s": ("s", pct(reads, 50), len(reads)),
    }


LEDGER_KINDS = ("upload", "reupload")
QUERY_KINDS = ("query", "read")


def per_layer(res):
    """Per-op means of the traced ops' counters, the run-level ledger and
    kernel figures, and the tracing overhead."""
    w = res["workload"]
    slots = res["host"]["slots"]
    recs = res["op_counters"]

    def mean(name, kinds=None):
        xs = [r["counters"].get(name, 0.0) for r in recs
              if kinds is None or r["kind"] in kinds]
        return (sum(xs) / len(xs), len(xs)) if xs else (0.0, 0)

    m = {}
    for name, unit, kinds in [
            ("queries.build_s", "s", QUERY_KINDS),
            ("queries.build_jobs", "count", QUERY_KINDS),
            ("plan.plan_s", "s", QUERY_KINDS),
            ("plan.exchanges", "count", QUERY_KINDS),
            ("plan.broadcasts", "count", QUERY_KINDS),
            ("exec.jobs", "count", None), ("exec.stages", "count", None),
            ("exec.tasks", "count", None), ("exec.idle_s", "s", None),
            ("exec.task_overhead_s", "s", None), ("exec.run_s", "s", None),
            ("exec.cpu_s", "s", None), ("exec.shuffle_write_mb", "MB", None),
            ("exec.shuffle_read_mb", "MB", None), ("exec.spill_mb", "MB", None),
            ("exec.input_mb", "MB", None), ("exec.gc_s", "s", None),
            ("operators.pins", "count", None),
            ("operators.pinned_mb", "MB", None),
            ("ledger.ingest_s", "s", LEDGER_KINDS),
            ("ledger.build_s", "s", LEDGER_KINDS),
            ("ledger.dim_s", "s", LEDGER_KINDS),
            ("ledger.fact_s", "s", LEDGER_KINDS),
            ("ledger.driver_s", "s", LEDGER_KINDS)]:
        v, n = mean(name, kinds)
        m[name] = (unit, v, n)
    cpu = sum(r["counters"].get("exec.cpu_s", 0.0) for r in recs)
    wall = sum(r["counters"].get("op_s", 0.0) for r in recs)
    m["exec.cpu_util"] = ("ratio", cpu / (wall * slots) if wall else 0.0, len(recs))
    v, n = mean("exec.jobs", LEDGER_KINDS)
    m["ledger.jobs_per_batch"] = ("count", v, n)

    passes = res["extra"].get("ledger_passes", [])
    uploads = sum(len(p["months"]) for p in passes)

    def pmean(f):
        return sum(f(p) for p in passes) / len(passes) if passes else 0.0
    offered = sum(p["rows_offered"] for p in passes)
    m["ledger.rows_appended"] = ("count", pmean(lambda p: p["fact_appended"]), len(passes))
    m["ledger.append_ratio"] = (
        "ratio", sum(p["fact_appended"] for p in passes) / offered if offered else 0.0,
        uploads)
    m["ledger.files_written"] = ("count", pmean(lambda p: p["files_written"]), len(passes))
    m["ledger.bytes_written_mb"] = ("MB", pmean(lambda p: p["bytes_on_disk"] / 1e6), len(passes))
    m["ledger.live_commits"] = ("count", pmean(lambda p: p["live_commits"]), len(passes))
    m["ledger.compactions"] = ("count", pmean(lambda p: p["compactions"]), len(passes))
    m["ledger.stored_bytes_per_input_byte"] = (
        "ratio", pmean(lambda p: p["live_bytes"] / p["csv_bytes"]), len(passes))

    m["exec.peak_rss_mb"] = ("MB", res["peak_rss_mb"], 1)
    for k, v in res["layers"].items():  # the kernel probes
        m[k] = ("1/s", v, 1)
    m["trace.overhead_ratio"] = ("ratio",) + tracing_overhead(res)
    return m


def tracing_overhead(res):
    """(traced / untraced - 1, ops) over the run's successful ops, each
    traced in some passes and untraced in others (stats.traced_ratio)."""
    return stats.traced_ratio([(o["name"], o["pass"], o["traced"], o["latency_s"])
                               for o in res["ops"] if o["ok"]])


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (None where unavailable)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_pct(before, after):
    """Share of CPU time the hypervisor gave to other guests in between:
    co-tenant pressure that the load average does not show."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if sum(d) else None


def write_spans(args, res):
    """Writes a traced run's spans to .bench_build/spans-<workload>-<seed>.json
    (git ignores the directory) and returns that path, relative to the
    repository root."""
    rel = os.path.join(".bench_build", f"spans-{args.workload}-{args.seed}.json")
    with open(os.path.join(ROOT, rel), "w") as fh:
        json.dump(res["spans"], fh)
    return rel


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main(argv=None):
    # a SIGTERM unwinds like an exception, so cleanup in finally blocks runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail(f"no program sources under {ROOT}; run from a full checkout")
    expected = load_expected()
    classpath, stamp = build()

    work = os.path.join(ROOT, ".bench_build", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        out = os.path.join(work, "result.json")
        cpu0 = cpu_times()
        res = run_jvm(args, classpath, work, out)
        steal = steal_pct(cpu0, cpu_times())
        n_dig, bad_dig = check_digests(res, expected)
        n_led, bad_led = check_ledger(res)
        for p in res["extra"].get("ledger_passes", []):
            p["csv_bytes"] = sum(
                os.path.getsize(f) for m in p["months"]
                for f in glob.glob(os.path.join(res["extra"]["csv_root"], f"ym={m}", "*.csv")))
        failures = [f"{o['name']}: {o['error']}" for o in res["ops"] if not o["ok"]]
        failures += bad_dig + bad_led
        attempted = len(res["ops"]) + n_dig + n_led
        metrics = per_layer(res) if args.trace else end_to_end(res)
        spans = write_spans(args, res) if args.trace else None
    finally:
        shutil.rmtree(work, ignore_errors=True)

    host = dict(res["host"])
    host.update(load1_start=res["extra"].get("load1_start"),
                load1_end=res["extra"].get("load1_end"),
                steal_pct=steal, commit=git_commit(), source_stamp=stamp)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "host": host,
        "metrics": {k: {"value": v, "unit": u, "samples": n}
                    for k, (u, v, n) in metrics.items()},
        "failed_ratio": len(failures) / attempted,
        "failures": failures[:20],
        "ops": [[o["name"], o["kind"], round(o["latency_s"], 4), o["load1"], o["traced"]]
                for o in res["ops"]],
        "extra": {k: v for k, v in res["extra"].items()
                  if not k.endswith("_ms") and k != "csv_root"},
        "setup_marks_s": {k[:-3]: (v - res["jvm_start_ms"]) / 1e3
                          for k, v in res["extra"].items() if k.endswith("_ms")},
        "spans_file": spans,
    }
    for f in failures[:20]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps({"perfbench": report}))
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (u, v, _) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
