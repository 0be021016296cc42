#!/usr/bin/env python3
"""Same-host benchmark of the engine: builds the harness (with the engine's
sources) when they changed, runs one workload in one JVM, checks every
output, and prints one JSON result line.

    python3 perfbench/run.py --workload <etl_users|llm_curation|star_olap>
        --seed <n> --seconds <s> --trace <0|1>

With --trace 0 the result holds the end-to-end metrics of BENCHMARK.json;
with --trace 1 the per-layer ones. Every run also writes an artifact under
perfbench/work/runs/ with all metrics, the per-op table, the per-module
split, host noise from /proc, and (traced runs) the spans.
"""
import argparse
import decimal
import datetime
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("etl_users", "llm_curation", "star_olap")
DATA = os.path.join(HERE, "corpus", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "sf0.01.json")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
DEADLINE_S = 170  # the harness JVM is killed after this; a run must end within 180 s
ETL_ROWS = 60_000
T0 = datetime.datetime(2026, 1, 1)
# Modules whose job counts the result line carries: the llm_curation tier.
# The star_olap tier's modules (star, operator, lakehouse, stream, parity)
# are in the artifact's per-module split.
MODULES = ("text", "curation", "dedup", "embedding", "media")


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile / products"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=800)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (exit {rc}); log in {log}", 1)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


# ---------------------------------------------------------------- inputs

def user_gen(seed):
    """Generator parameters drawn from the seed: the shares of duplicate
    keys, null ids and invalid dates."""
    r = random.Random(seed)
    dup = r.uniform(0.08, 0.12)
    return {"users": ETL_ROWS, "key-slots": ETL_ROWS - round(dup * ETL_ROWS),
            "null-id-period": r.randint(18, 22), "bad-date-period": r.randint(9, 11)}


def expected_metrics(g, year):
    """The metric row that follows from the generator's rules (see
    Workloads.writeUsers): row i has key slot i % key-slots, a null id on
    slots divisible by null-id-period (the key is then the row's own
    uuid), and an invalid date when i % bad-date-period == 1; a valid date
    is T0 minus (i % 3650) days."""
    n, k, pn, pb = g["users"], g["key-slots"], g["null-id-period"], g["bad-date-period"]
    years = [year - (T0 - datetime.timedelta(days=r)).year for r in range(3650)]
    keys, uuids, ysum, ycount, best_r = set(), 0, 0, 0, None
    for i in range(n):
        if i % pb == 1:
            continue
        slot = i % k
        if slot % pn == 0:
            uuids += 1
        else:
            keys.add(slot)
        r = i % 3650
        ysum += years[r]
        ycount += 1
        best_r = r if best_r is None else min(best_r, r)
    last = max(f"{'John' if i % 2 == 0 else 'Jane'}{i} Doe{i}"
               for i in range(best_r, n, 3650) if i % pb != 1)
    avg = decimal.Decimal(repr(ysum / ycount)).quantize(decimal.Decimal("0.01"), decimal.ROUND_HALF_UP)
    rows_out = len(keys) + uuids
    return {"rows_in": n, "rows_out": rows_out, "dedup_removed": n - rows_out,
            "countries": min(n, 5), "uniqueCities": min(n, 12), "totalUsers": rows_out,
            "avgRegistrationYears": float(avg), "lastUser": last}


# ---------------------------------------------------------------- host noise

def host_sample():
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    return {"cpu": cpu, "load": load}


def host_noise(a, b):
    d = [y - x for x, y in zip(a["cpu"], b["cpu"])]
    total = sum(d) or 1
    # /proc/stat cpu columns: user nice system idle iowait irq softirq steal ...
    return {"loadavg_start": a["load"], "loadavg_end": b["load"],
            "iowait_frac": d[4] / total, "steal_frac": d[7] / total if len(d) > 7 else 0.0,
            "busy_frac": 1.0 - (d[3] + d[4]) / total}


# ---------------------------------------------------------------- run

def run_harness(args, work, out, gen):
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    # The JIT stops at C1: with C2 the same run repeated gave 10-20 % spread
    # (run-to-run compilation differences on driver-side planning code that
    # runs only a few times per pass); with C1 it gives a few percent. A
    # pre-touched 1 GB initial heap keeps peak RSS from following G1's
    # heap-growth timing. C1 alone gets a 48 MB code cache by default, which
    # the classes Spark generates for each query fill within a minute; the
    # sweeper then flushes it and C1 recompiles, a burst of several CPU
    # seconds in whichever pass it lands. A larger cache (about 60 MB is
    # used) keeps the passes alike.
    cmd = ["java", "-Xms1g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}:{jars}", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", DATA, "--work", work, "--out", out]
    for k, v in (gen or {}).items():
        cmd += [f"--{k}", str(v)]
    log = open(os.path.join(work, "harness.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        rc = proc.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        # Never leave the JVM behind: on the deadline or when this runner
        # is itself stopped.
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        log.close()
    return rc


def load_records(path):
    recs = {}
    with open(path) as fh:
        for line in fh:
            if line.strip():
                r = json.loads(line)
                recs.setdefault(r["t"], []).append(r)
    return recs


def check_ops(ops, expected):
    """Each op's output against the expected fingerprint; ops that read
    the clock are checked on row count and schema only."""
    wrong = []
    for o in ops:
        if o["status"] != "ok" or o["module"] == "etl":
            continue
        e = expected["ops"].get(o["name"])
        ok = (e is not None and o["rows"] == e["rows"] and o["schema"] == e["schema"]
              and (o["name"] in expected["clock_ops"] or o["checksum"] == e["checksum"]))
        if not ok:
            wrong.append(o["name"])
    return wrong


def sink_rows(work):
    """What the sinks of the last pass left on disk: CSV data rows (each
    part file starts with a header), JSON-lines user rows, and the
    envelope header's metrics."""
    csv_rows = 0
    for f in glob.glob(os.path.join(work, "sink", "csv", "part-*")):
        with open(f) as fh:
            csv_rows += max(0, sum(1 for _ in fh) - 1)
    json_rows = 0
    for f in glob.glob(os.path.join(work, "sink", "json", "users", "part-*")):
        with open(f) as fh:
            json_rows += sum(1 for line in fh if line.strip())
    header = {}
    for f in glob.glob(os.path.join(work, "sink", "json", "envelope", "part-*")):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    header = json.loads(line).get("metrics", {})
    return csv_rows, json_rows, header


def check_etl(recs, gen, work):
    """The metric row against its closed form, and the sinks' output."""
    exp = expected_metrics(gen, datetime.datetime.now(datetime.timezone.utc).year)
    wrong = []
    for o in recs.get("op", []):
        if o["name"] == "etl_metrics" and o["status"] == "ok":
            row = o["row"] or {}
            for k, v in exp.items():
                got = row.get(k)
                if isinstance(v, float) and isinstance(got, (int, float)):
                    if abs(got - v) > 1e-9:
                        wrong.append(f"etl_metrics.{k}={got}!={v}")
                elif got != v:
                    wrong.append(f"etl_metrics.{k}={got!r}!={v!r}")
    csv_rows, json_rows, header = sink_rows(work)
    if csv_rows != exp["rows_out"]:
        wrong.append(f"csv rows {csv_rows}!={exp['rows_out']}")
    if json_rows != exp["rows_out"]:
        wrong.append(f"json rows {json_rows}!={exp['rows_out']}")
    if any(header.get(k) != exp[k] for k in exp):
        wrong.append(f"envelope header {header}")
    return wrong, exp


def end_to_end(recs):
    """The end-to-end metrics of an untraced run.

    A steady pass is measured op by op, and a pass is the sum over its
    ops. On a shared host other tenants and CPU steal only ever add wall
    time, in bursts of a few seconds that hit some executions of an op and
    not others; so an op's wall time is its lower quartile (nearest rank)
    over the timed passes, which is its fastest execution for up to four
    passes. CPU time is not inflated by steal, so an op's CPU time is its
    median over the passes. The latency percentiles are taken over the
    per-op wall times. The plain medians of whole passes, wall and CPU,
    are in the artifact."""
    setup = recs["setup"][0]
    passes = [p for p in recs["pass"] if p["pass"] >= 1 and not p["traced"]]
    wall, cpu = {}, {}
    for o in recs["op"]:
        if o["pass"] >= 1 and not o["traced"] and o["status"] == "ok":
            wall.setdefault(o["name"], []).append(o["build_s"] + o["action_s"])
            cpu.setdefault(o["name"], []).append(o["cpu_s"])
    lat = [x for xs in wall.values() for x in xs]
    tail = stats.tail_percentile(lat)
    op_lat = [stats.percentile(xs, 25) for xs in wall.values()]
    m = {
        "pass_s": sum(op_lat),
        "cpu_s": sum(stats.median(xs) for xs in cpu.values()),
        "query_s_p50": stats.percentile(op_lat, 50),
        "query_s_p90": stats.percentile(op_lat, 90),
        "setup_s": setup["session_s"] + stats.median(setup["prep_s"]) + setup["warmup_s"],
        "peak_rss_mb": recs["end"][0]["peak_rss_kb"] / 1024.0,
    }
    info = {"passes": len(passes), "latency_samples": len(lat), "latency_ops": len(op_lat),
            "pass_wall_median_s": stats.median([p["wall_s"] for p in passes]),
            "pass_cpu_median_s": stats.median([p["cpu_s"] for p in passes]),
            "tail_percentile": None if tail is None else
            {"p": tail[0], "value_s": tail[1], "samples_beyond": tail[2]}}
    return m, info


def per_layer(recs, workload):
    """Per-pass averages over the traced passes of a --trace 1 run."""
    traced = sorted({p["pass"] for p in recs["pass"] if p["traced"]})
    untraced = [p["wall_s"] for p in recs["pass"] if p["pass"] >= 1 and not p["traced"]]
    n = len(traced)
    jobs_all = recs.get("job", [])
    stages_all = {s["id"]: s for s in recs.get("stage", [])}
    sums, modules, spans_out = {}, {}, []

    def add(k, v):
        sums[k] = sums.get(k, 0) + v

    for p in traced:
        ops = [o for o in recs["op"] if o["pass"] == p and o["status"] == "ok"]
        jobs = [j for j in jobs_all if j["pass"] == p]
        owner = stats.stage_owners(jobs)
        stages = [stages_all[s] for s, j in owner.items() if s in stages_all]
        by_mod, tot = stats.module_totals(jobs, stages, ops)
        for f, v in tot.items():
            add("spark." + RENAME.get(f, f), v)
        add("spark.stages", len(stages))
        for mod, vals in by_mod.items():
            acc = modules.setdefault(mod, {})
            for f, v in vals.items():
                acc[f] = acc.get(f, 0) + v
        pass_rec = next(r for r in recs["pass"] if r["pass"] == p)
        wall = pass_rec["wall_s"]
        # Spans: pass -> op -> build/action -> Spark job.
        spans = {s["id"]: (s["parent"], s["start_ns"], s["end_ns"])
                 for s in recs.get("span", []) if s["pass"] == p}
        kinds = {s["id"]: (s["kind"], s["name"]) for s in recs.get("span", []) if s["pass"] == p}
        by_op = {}
        for sid, (kind, name) in kinds.items():
            if kind in ("build", "action"):
                by_op.setdefault(name, {})[kind] = sid
        groups = {o["group"]: o for o in ops}
        build_jobs = 0
        for j in jobs:
            op = stats.job_op(j, groups, ops)
            parent = 0
            if op is not None:
                b = by_op.get(op["name"], {}).get("build")
                a = by_op.get(op["name"], {}).get("action")
                if b is not None and spans[b][1] <= j["start_ns"] <= spans[b][2]:
                    parent, build_jobs = b, build_jobs + 1
                else:
                    parent = a if a is not None else 0
            jid = f"job-{j['id']}"
            spans[jid] = (parent, j["start_ns"], max(j["end_ns"], j["start_ns"]))
            kinds[jid] = ("job", j["callsite"])
        self_t = stats.self_times(spans)
        for sid, (kind, name) in kinds.items():
            parent, a, b = spans[sid]
            dur = (b - a) / 1e9
            if kind in ("build", "action"):
                add(f"ops.{kind}_s", dur)
                add(f"ops.{kind}_self_s", self_t[sid] / 1e9)
                mod = next((o["module"] for o in ops if o["name"] == name), "harness")
                acc = modules.setdefault(mod, {})
                acc[f"{kind}_s"] = acc.get(f"{kind}_s", 0) + dur
            elif kind == "job":
                add("spark.job_s", dur)
            spans_out.append({"pass": p, "id": sid, "parent": parent, "kind": kind, "name": name,
                              "start_ns": a, "end_ns": b, "self_s": self_t[sid] / 1e9})
        add("queries.build_jobs", build_jobs)
        add("jvm.gc_s", pass_rec["gc_s"])
        add("spark.core_busy_frac", tot["run_s"] / (wall * recs["setup"][0]["cores"]))
        add("spark.jobs_failed", sum(1 for j in jobs if not j["ok"]))
        writes = [j for j in jobs if j["callsite"].split(" at ")[0] in ("saveAsTable", "insertInto")]
        add("stores.write_s", sum((j["end_ns"] - j["start_ns"]) / 1e9 for j in writes))
        add("stores.bytes_written", sum(stages_all[s]["output_bytes"] for s, jid in owner.items()
                                        if s in stages_all and any(w["id"] == jid for w in writes)))
        add("stores.files", pass_rec["store_files"])
        add("stores.rows", pass_rec["store_rows"])
        pins = [b for b in recs.get("pins", []) if b["pass"] == p]
        add("pins.blocks", sum(b["blocks"] for b in pins))
        add("pins.bytes", sum(b["bytes"] for b in pins))
        if workload == "etl_users":
            for o in ops:
                add(f"etl.{o['name'][4:]}_s", o["build_s"] + o["action_s"])
            inp = recs["setup"][0]["input_bytes"]
            add("etl.scan_amplification", tot["input_bytes"] / inp if inp else 0.0)
            row = next((o["row"] for o in ops if o["name"] == "etl_metrics"), None) or {}
            add("etl.rows_kept_frac", row.get("rows_out", 0) / max(1, row.get("rows_in", 0)))
    m = {k: v / n for k, v in sums.items()} if n else {}
    m["trace.overhead_s"] = (stats.median([p["wall_s"] for p in recs["pass"] if p["traced"]])
                             - stats.median(untraced))
    mods = {k: {f: v / n for f, v in vals.items()} for k, vals in modules.items()} if n else {}
    return m, mods, spans_out


RENAME = {"run_s": "task_run_s", "cpu_s": "task_cpu_s"}

# Per-layer metrics printed in the result line (BENCHMARK.json per_layer).
# Times that are zero by construction on some workload (a module's own
# split, the ETL stage times, store write time) are left to the artifact.
LAYER_KEYS = (
    ["ops.build_s", "ops.action_s", "ops.build_self_s", "ops.action_self_s", "queries.build_jobs",
     "spark.job_s", "spark.jobs", "spark.tasks", "spark.core_busy_frac",
     "spark.stages", "spark.task_run_s", "spark.task_cpu_s", "jvm.gc_s", "spark.sched_delay_s",
     "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
     "spark.input_bytes", "spark.output_bytes", "spark.failed_tasks", "spark.jobs_failed",
     "pins.blocks", "pins.bytes", "stores.bytes_written", "stores.files", "stores.rows",
     "etl.scan_amplification", "trace.overhead_s"]
    + [f"queries.{m}.jobs" for m in MODULES])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in (os.path.join(ROOT, "src", "main", "scala"), DATA, EXPECTED):
        if not os.path.exists(need):
            die(f"missing {os.path.relpath(need, ROOT)}: run from a full checkout")
    build()

    work = os.path.join(HERE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "records.jsonl")
    gen = user_gen(args.seed) if args.workload == "etl_users" else None
    host0 = host_sample()
    rc = run_harness(args, work, out, gen)
    host1 = host_sample()
    if rc != 0 or not os.path.exists(out):
        tail = open(os.path.join(work, "harness.log")).read()[-3000:]
        die(f"harness {'timed out' if rc is None else f'exited {rc}'}\n{tail}", 1)

    recs = load_records(out)
    ops = recs["op"]
    if args.workload == "etl_users":
        wrong, etl_expected = check_etl(recs, gen, work)
    else:
        wrong, etl_expected = check_ops(ops, json.load(open(EXPECTED))), None
    failed = [o["name"] for o in ops if o["status"] != "ok"]
    store_rows = {p["store_rows"] for p in recs["pass"]}
    isolation_ok = len(store_rows) == 1
    correct = not wrong and isolation_ok

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "utc": datetime.datetime.now(datetime.timezone.utc).isoformat(),
        "cores": recs["setup"][0]["cores"], "corpus": os.path.relpath(DATA, ROOT),
        "generator": gen, "etl_expected": etl_expected, "host": host_noise(host0, host1),
        "ops_attempted": len(ops), "failed": failed, "failed_frac": len(failed) / len(ops),
        "wrong_results": len(wrong), "wrong": wrong,
        "store_rows_per_pass": sorted(store_rows), "store_isolation_ok": isolation_ok,
        "setup": recs["setup"][0], "passes": recs["pass"], "measured": recs["measured"][0],
        "ops": [{k: o[k] for k in ("pass", "name", "module", "status", "build_s", "action_s",
                                   "cpu_s", "rows", "error")} for o in ops],
    }
    if args.trace:
        layer, mods, spans = per_layer(recs, args.workload)
        artifact["per_layer"] = layer
        artifact["per_module"] = mods
        metrics = {}
        for k in LAYER_KEYS:
            if k.startswith("queries.") and k.endswith(".jobs"):
                v = mods.get(k.split(".")[1], {}).get("jobs", 0)
            else:
                v = layer.get(k, 0)
            metrics[k] = {"value": v, "unit": unit_of(k)}
    else:
        e2e, info = end_to_end(recs)
        artifact["end_to_end"] = e2e
        artifact["latency"] = info
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in e2e.items()}
    artifact["metrics"] = metrics

    runs = os.path.join(HERE, "work", "runs")
    os.makedirs(runs, exist_ok=True)
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S")
    name = f"{stamp}-{args.workload}-s{args.seed}-t{args.trace}"
    with open(os.path.join(runs, name + ".json"), "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    if args.trace:
        with open(os.path.join(runs, name + ".spans.jsonl"), "w") as fh:
            for s in spans:
                fh.write(json.dumps(s) + "\n")

    summary = " ".join(f"{k}={v['value']:.4g}{v['unit']}" for k, v in metrics.items()
                       if not args.trace)
    print(f"[perfbench] {args.workload} seed={args.seed} trace={args.trace} "
          f"ops={len(ops)} failed_frac={len(failed) / len(ops):.4g} wrong_results={len(wrong)} "
          f"host={artifact['host']} {summary} artifact={os.path.relpath(runs, ROOT)}/{name}.json",
          file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))


def unit_of(k):
    if k.endswith(("_s", "_p50", "_p90")):
        return "s"
    if k.endswith("_mb"):
        return "MB"
    if "bytes" in k:
        return "bytes"
    if k.endswith(("frac", "amplification")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
