#!/usr/bin/env python3
"""bdtspark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles `src/main/scala`
together with `perfbench/scala` into `.bench_build/classes` with the Scala
compiler that ships in the Spark distribution; later runs reuse it while the
sources are unchanged. Every run works inside its own directory under
`.bench_build/runs` and removes it at the end, so nothing else in the
checkout is created or overwritten.

The workloads, their ops and their input sizes are in `workloads.json`; the
expected result of every op is in `expected.json` (`--record` rewrites it
from the run instead of checking). Each workload is a closed loop with one
client: one op in flight, `local[4]`, four shuffle partitions.

`--trace 0` measures the end-to-end metrics. `--trace 1` attaches Spark's
public listeners from the benchmark's own classes, writes the span file
`.bench_build/last/<workload>.spans.jsonl` and prints the per-layer metrics.
The last line of stdout is the result object; the line before it is the full
report: error rate with its base, tail percentile with its sample count, run
hygiene (steal, load, GC, heap) and each failure with its root cause.
"""

import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The jars of the Spark distribution the program builds against:
    $SPARK_HOME's, else those of the first spark-submit on PATH that ships
    the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(":")
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    return next((f"{h}/jars" for h in homes
                 if os.path.isfile(f"{h}/jars/scala-compiler-2.13.17.jar")), None)


SPARK_JARS = spark_jars()
SCALA_JARS = [f"{SPARK_JARS}/scala-{m}-2.13.17.jar" for m in ("compiler", "library", "reflect")]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RUN_LIMIT_S = 170
# Timed work starts only after a half second in which the host steals at
# most CALM_STEAL ticks (other tenants' CPU bursts slow a run by up to a
# quarter); a run waits for that at most CALM_BUDGET_S seconds in total.
CALM_STEAL = 4
CALM_BUDGET_S = 8
STAGE_SUMS = ("tasks", "failed_tasks", "run_ms", "cpu_ms", "gc_ms", "input_bytes",
              "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


class SetupError(Exception):
    pass


def load(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def build(root):
    srcs = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True))
    if not srcs:
        raise SetupError(f"no program sources under {root}/src/main/scala")
    srcs += sorted(glob.glob(f"{HERE}/scala/*.scala"))
    if SPARK_JARS is None:
        raise SetupError("no Spark distribution with the Scala 2.13.17 compiler; set SPARK_HOME")
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = f"{root}/.bench_build/classes"
    stamp = f"{out}.stamp"
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(SCALA_JARS),
         "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false", "-classpath", f"{SPARK_JARS}/*",
         "-d", out] + srcs,
        capture_output=True, text=True)
    if r.returncode != 0:
        raise SetupError("compile failed:\n" + (r.stdout + r.stderr)[-4000:])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return out


def steal_ticks():
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def wait_for_calm(budget_s):
    """Returns the seconds waited for a calm half second, at most budget_s."""
    t0 = time.time()
    while time.time() - t0 < budget_s:
        s0 = steal_ticks()
        time.sleep(0.5)
        if steal_ticks() - s0 <= CALM_STEAL:
            break
    return time.time() - t0


def run_jvm(cmd, cwd, env, timeout_s, stdout, stderr):
    """Run one JVM to completion; return (exit code or None on timeout, peak
    RSS in MB). VmHWM only grows, so its last reading before exit is the peak."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr)
    hwm = [0]

    def poll():
        while p.poll() is None:
            try:
                with open(f"/proc/{p.pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            hwm[0] = max(hwm[0], int(line.split()[1]))
            except OSError:
                pass
            time.sleep(0.05)

    t = threading.Thread(target=poll, daemon=True)
    t.start()
    try:
        rc = p.wait(timeout=max(1.0, timeout_s))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
        t.join()
    return rc, hwm[0] / 1024.0


def java_cmd(classes, heap, rundir, props=()):
    # -XX:-UsePerfData: no hsperfdata file outside the run directory
    return (["java", "-XX:-UsePerfData"] + ADD_OPENS + [
        f"-Xmx{heap}", f"-Djava.io.tmpdir={rundir}/tmp",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={rundir}/tmp", f"-Dspark.sql.warehouse.dir={rundir}/warehouse",
    ] + list(props) + ["-cp", f"{classes}:{SPARK_JARS}/*"])


def prepare_fixtures(cfg, rundir):
    """Copy the fixture tables into the run directory, which also brings them
    into the page cache, and check them against the recorded sizes the
    expected values were taken on."""
    data = f"{rundir}/data"
    os.makedirs(data, exist_ok=True)
    for t, size in cfg["tables"].items():
        src = f"{cfg['data']}/{t}.parquet"
        if not os.path.isfile(src) or os.path.getsize(src) != size["bytes"]:
            raise SetupError(f"fixture {src} missing or not the recorded size {size['bytes']}")
        shutil.copyfile(src, f"{data}/{t}.parquet")
    return data


def perturb_orders(data, seed, out):
    """The seed picks which `orders` rows the compare input changes: 100 get
    another price, 25 are dropped and 25 new keys are added. The counts are
    fixed, so `compare` prints the same summary for every seed."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    t = pq.read_table(f"{data}/orders.parquet")
    picked = random.Random(seed).sample(range(t.num_rows), 150)
    changed, dropped, cloned = set(picked[:100]), set(picked[100:125]), picked[125:]
    price = t.column("o_totalprice").to_pylist()
    for i in changed:
        price[i] += 1.0
    t = t.set_column(t.schema.get_field_index("o_totalprice"), "o_totalprice",
                     pa.array(price, pa.float64()))
    top = pc.max(t.column("o_orderkey")).as_py()
    extra = t.take(cloned).set_column(0, "o_orderkey",
                                      pa.array(range(top + 1, top + 26), pa.int64()))
    keep = [i for i in range(t.num_rows) if i not in dropped]
    pq.write_table(pa.concat_tables([t.take(keep), extra]), out)


# ---------------------------------------------------------------- workloads
# Both kinds of workload return the timed ops as
#   {"op", "group", "pass", "start", "end", "events"}
# with times in epoch ms and the trace events the op caused, plus the pass
# intervals, the failures and the rest of what the run reports.

def run_in_session(cfg, wl, args, classes, rundir, expected):
    setup0 = time.time()
    prepare_fixtures(cfg, rundir)
    props = {
        "data": f"{rundir}/data", "seed": args.seed, "seconds": args.seconds,
        "passes": wl["passes"], "calm_wait_s": CALM_BUDGET_S, "trace": args.trace,
        "cores": cfg["cores"],
        "tmp": f"{rundir}/tmp",
        "warehouse": f"{rundir}/warehouse", "events": f"{rundir}/events.json",
        "ops": ",".join("+".join(f"{n}|{f}" for n, f in unit) for unit in wl["ops"]),
    }
    with open(f"{rundir}/run.properties", "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in props.items())
    cmd = java_cmd(classes, cfg["heap"], rundir) + ["perfbench.Harness", f"{rundir}/run.properties"]
    with open(f"{rundir}/stdout.log", "w") as so, open(f"{rundir}/stderr.log", "w") as se:
        rc, rss = run_jvm(cmd, rundir, dict(os.environ), RUN_LIMIT_S - (time.time() - setup0),
                          so, se)
    if rc != 0:
        raise SetupError(f"harness JVM exited with {rc}:\n"
                         + open(f"{rundir}/stderr.log").read()[-3000:])
    with open(f"{rundir}/events.json") as f:
        ev = json.load(f)
    s = ev["summary"]
    passes = {int(k): (a, b) for k, a, b in s["passes"]}
    ops = [dict(o, group=o["family"], events=[]) for o in ev["ops"] if o["pass"] in passes]
    failures = []
    for o in ops:
        want = expected["counts"].get(o["op"])
        if args.record and o["error"] is None:
            expected["counts"][o["op"]] = o["count"]
        elif o["error"] is not None or o["count"] != want:
            failures.append({"op": o["op"], "pass": o["pass"], "count": o["count"],
                             "expected": want, "error": o["error"]})
    attribute(ev["trace"], ops)
    extra = {
        "setup_s": s["ready"] / 1000 - setup0, "peak_rss_mb": rss,
        "session_boot_ms": s["boot_ms"], "persisted_rdds": s["persisted_rdds"],
        "retained_mb": s["retained_bytes"] / 2**20,
        "report": {"calm_wait_s": s["calm_wait_ms"] / 1000,
                   "setup_parts_s": {"before_main": s["main"] / 1000 - setup0,
                                     "session_boot": s["boot_ms"] / 1000,
                                     "warm_pass": (s["ready"] - s["main"] - s["boot_ms"]) / 1000},
                   "gc_ms": s["gc_ms"], "max_heap_mb": s["max_heap_bytes"] / 2**20},
    }
    return ops, passes, failures, extra


def attribute(trace, ops):
    """Give each trace event to the op it ran for: jobs and stages by the
    job-local `perfbench.op` property, plan phases and streaming queries by
    the op whose interval contains their start."""
    by_key = {f"{o['pass']}:{o['op']}": o for o in ops}

    def containing(t):
        return next((o for o in ops if o["start"] <= t <= o["end"] + 1), None)

    job_op, stage_op, query_op = {}, {}, {}
    for e in trace:
        kind = e["e"]
        if kind == "job_start":
            o = job_op[e["job"]] = by_key.get(e["op"]) or containing(e["t"])
        elif kind == "job_end":
            o = job_op.get(e["job"])
        elif kind == "stage_start":
            o = stage_op[(e["stage"], e["attempt"])] = by_key.get(e["op"]) or containing(e["t"])
        elif kind == "stage_end":
            o = stage_op.get((e["stage"], e["attempt"]))
        elif kind == "qe":
            o = containing(min(a for a, _ in e["phases"].values())) if e["phases"] else None
        elif kind == "sq_start":
            o = query_op[e["id"]] = containing(e["t"])
        elif kind == "sq_progress":
            o = query_op.get(e["id"])
        else:
            o = None
        if o is not None:
            o["events"].append(e)


def run_cli(cfg, wl, args, classes, rundir, expected):
    # set-up here is cheap, so it is repeated and the median reported
    setups = []
    for _ in range(3):
        t0 = time.time()
        data = prepare_fixtures(cfg, rundir)
        perturb_orders(data, args.seed, f"{data}/orders_perturbed.parquet")
        setups.append(time.time() - t0)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cfg["cores"]))
    rng = random.Random(args.seed)
    out = f"{rundir}/out/{hashlib.sha256(str(args.seed).encode()).hexdigest()[:10]}"
    ops, passes, failures, rss, calm_wait = [], {}, [], 0.0, 0.0
    t_start = time.time()
    k = 0
    while k < wl["passes"] or time.time() - t_start < args.seconds:
        k += 1
        order = list(wl["commands"])
        rng.shuffle(order)
        for c in order:
            argv = [a.format(data=data, out=f"{out}/r{k}") for a in c["args"]]
            trace_file = f"{rundir}/trace.json"
            props = ["-Dspark.extraListeners=perfbench.JobTrace",
                     "-Dspark.sql.queryExecutionListeners=perfbench.PlanTrace",
                     f"-Dperfbench.trace.out={trace_file}"] if args.trace else []
            cmd = java_cmd(classes, cfg["cli_heap"], rundir, props) + ["graft.cli.Main"] + argv
            calm_wait += wait_for_calm(CALM_BUDGET_S - calm_wait)
            limit = RUN_LIMIT_S - stats.median(setups) - (time.time() - t_start)
            with open(f"{rundir}/cli.out", "w") as so, open(f"{rundir}/cli.err", "w") as se:
                t0 = time.time()
                rc, peak = run_jvm(cmd, rundir, env, limit, so, se)
                t1 = time.time()
            rss = max(rss, peak)
            stdout = open(f"{rundir}/cli.out").read().replace(rundir, "{run}")
            digest = hashlib.sha256(stdout.encode()).hexdigest()
            problem = None
            if "rows_out" in c and rc == 0:
                got = count_rows(argv[-1])
                if got != c["rows_out"]:
                    problem = f"wrote {got} rows, expected {c['rows_out']}"
            want = expected["cli"].get(c["name"], {})
            if args.record and rc is not None and problem is None:
                expected["cli"][c["name"]] = {"rc": rc, "sha256": digest}
            elif problem or rc != want.get("rc") or digest != want.get("sha256"):
                err = open(f"{rundir}/cli.err").read().splitlines()
                failures.append({
                    "op": c["name"], "pass": k,
                    "problem": problem or f"exit {rc}, stdout sha256 {digest[:12]}; expected "
                                          f"exit {want.get('rc')}, {str(want.get('sha256'))[:12]}",
                    "error": next((ln for ln in reversed(err)
                                   if "Exception" in ln or ln.startswith("Error")), None)})
            events = []
            if args.trace and os.path.exists(trace_file):
                with open(trace_file) as f:
                    events = json.load(f)
                os.remove(trace_file)
            ops.append({"op": c["name"], "group": c["class"], "pass": k,
                        "start": t0 * 1000, "end": t1 * 1000, "events": events})
        passes[k] = (min(o["start"] for o in ops if o["pass"] == k),
                     max(o["end"] for o in ops if o["pass"] == k))
    files = [os.path.join(d, f) for d, _, names in os.walk(out) for f in names]
    extra = {"setup_s": stats.median(setups), "peak_rss_mb": rss,
             "files_written": len(files), "bytes_written": sum(map(os.path.getsize, files)),
             "report": {"calm_wait_s": calm_wait}}
    return ops, passes, failures, extra


def count_rows(path):
    import pyarrow.parquet as pq
    files = glob.glob(f"{path}/*.parquet") if os.path.isdir(path) else [path]
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


# ---------------------------------------------------------------- metrics

def end_to_end(ops, passes, extra):
    lat = [(o["end"] - o["start"]) / 1000 for o in ops]
    pct, tail_v, beyond = stats.tail(lat)
    e2e = {
        "setup_s": extra["setup_s"],
        "wall_s": stats.median([sum(o["end"] - o["start"] for o in ops if o["pass"] == k) / 1000
                                for k in passes]),
        "op_p50_s": stats.median(lat),
        "op_tail_s": tail_v,
    }
    return e2e, {"percentile": pct, "samples_beyond": beyond, "samples": len(lat)}


def per_layer(names, ops, passes, extra, cli, cores):
    """Per-layer metrics per pass (per round of commands on cli-cold); every
    name in BENCHMARK.json is reported, 0 on a workload that bypasses it."""
    n = len(passes)
    m = dict.fromkeys(names, 0)
    spans = [{"id": f"p{k}", "parent": None, "name": f"pass {k}", "start": a, "end": b}
             for k, (a, b) in passes.items()]
    plan_total = gap = op_wall = 0.0
    cli_parts = {k: [] for k in ("jvm_start_ms", "session_boot_ms", "plan_ms", "exec_ms",
                                 "other_ms", "jobs")}
    for o in ops:
        oid = f"{o['pass']}:{o['op']}"
        spans.append({"id": oid, "parent": f"p{o['pass']}", "name": f"op {o['op']}",
                      "start": o["start"], "end": o["end"]})
        ev = o["events"]
        job_end = {e["job"]: e["t"] for e in ev if e["e"] == "job_end"}
        jobs = [(e["t"], job_end.get(e["job"], e["t"])) for e in ev if e["e"] == "job_start"]
        plans = [(p, a, b) for e in ev if e["e"] == "qe" for p, (a, b) in e["phases"].items()]
        children = jobs + [(a, b) for _, a, b in plans]
        for i, (a, b) in enumerate(jobs):
            spans.append({"id": f"{oid}/job{i}", "parent": oid, "name": "job",
                          "start": a, "end": b})
        for i, (p, a, b) in enumerate(plans):
            spans.append({"id": f"{oid}/plan{i}", "parent": oid, "name": f"plan {p}",
                          "start": a, "end": b})
        for p, a, b in plans:
            if f"plan.{p}_ms" in m:
                m[f"plan.{p}_ms"] += b - a
        plan_total += stats.union_length([(a, b) for _, a, b in plans])
        op_wall += o["end"] - o["start"]
        m["exec.jobs"] += len(jobs)
        for e in ev:
            if e["e"] == "stage_end":
                m["exec.stages"] += 1
                for k in STAGE_SUMS:
                    m[f"exec.{k}"] += e[k]
        if cli:
            app = next((e["t"] for e in ev if e["e"] == "app_start"), o["start"])
            ready = next((e["t"] for e in ev if e["e"] == "session_ready"), app)
            boot = [(o["start"], app), (app, ready)]
            for i, (name, (a, b)) in enumerate(zip(("jvm start", "session boot"), boot)):
                spans.append({"id": f"{oid}/boot{i}", "parent": oid, "name": name,
                              "start": a, "end": b})
            other = stats.self_time((o["start"], o["end"]), boot + children)
            for k, v in (("jvm_start_ms", app - o["start"]), ("session_boot_ms", ready - app),
                         ("plan_ms", stats.union_length([(a, b) for _, a, b in plans])),
                         ("exec_ms", stats.union_length(jobs)), ("other_ms", other),
                         ("jobs", len(jobs))):
                cli_parts[k].append(v)
            gap += other
        else:
            m[f"queries.{o['group']}.wall_s"] += (o["end"] - o["start"]) / 1000
            gap += stats.driver_gap((o["start"], o["end"]), jobs, [(a, b) for _, a, b in plans])
        queries = {e["id"] for e in ev if e["e"] == "sq_start"}
        if queries:
            progress = [e for e in ev if e["e"] == "sq_progress"]
            last = {e["id"]: e["state_rows"] for e in progress}
            m["streaming.queries"] += len(queries)
            m["streaming.batches"] += len(progress)
            m["streaming.batch_ms"] += sum(e["ms"] for e in progress)
            m["streaming.floor_ms"] += (o["end"] - o["start"]) - sum(e["ms"] for e in progress)
            m["streaming.state_rows"] += sum(last.values())
    for k in list(m):
        if k.split(".")[0] in ("plan", "exec", "streaming", "queries") and k != "plan.share":
            m[k] /= n
    m["plan.share"] = plan_total / op_wall
    m["exec.slot_util"] = m["exec.run_ms"] / (stats.median(
        [b - a for a, b in passes.values()]) * cores)
    m["exec.driver_gap_ms"] = gap / n
    m["exec.peak_rss_mb"] = extra["peak_rss_mb"]
    if cli:
        m["operators.files_written"] = extra["files_written"] / n
        m["operators.bytes_written"] = extra["bytes_written"] / n
        m.update({f"cli.{k}": stats.median(v) for k, v in cli_parts.items()})
        for g in ("footer", "scan", "write"):
            m[f"cli.{g}_p50_s"] = stats.median(
                [(o["end"] - o["start"]) / 1000 for o in ops if o["group"] == g])
        m["session.boot_ms"] = m["cli.session_boot_ms"]
    else:
        m["session.boot_ms"] = extra["session_boot_ms"]
        m["artifacts.persisted_rdds"] = extra["persisted_rdds"]
        m["artifacts.retained_mb"] = extra["retained_mb"]
    return m, spans


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="rewrite expected.json from this run instead of checking it")
    args = ap.parse_args()
    root = os.getcwd()
    rundir = f"{root}/.bench_build/runs/{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    try:
        cfg = load("workloads.json")
        expected = load("expected.json")
        with open(f"{root}/BENCHMARK.json") as f:
            bench = json.load(f)
        if args.workload not in cfg["workloads"]:
            raise SetupError(f"unknown workload {args.workload}; "
                             f"known: {', '.join(cfg['workloads'])}")
        wl = cfg["workloads"][args.workload]
        classes = build(root)
        os.makedirs(f"{rundir}/tmp")
        steal0 = steal_ticks()
        load0 = os.getloadavg()
        cli = "commands" in wl
        run = run_cli if cli else run_in_session
        ops, passes, failures, extra = run(cfg, wl, args, classes, rundir, expected)
    except SetupError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    steal = steal_ticks() - steal0
    e2e, tail = end_to_end(ops, passes, extra)
    report = dict(extra["report"], **{
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": len(passes), "ops_per_pass": len(ops) // len(passes),
        "error_rate": len(failures) / len(ops), "error_base": len(ops),
        "failures": failures[:20], "op_tail": tail, "peak_rss_mb": extra["peak_rss_mb"],
        "op_s": {f"{o['pass']}:{o['op']}": round((o["end"] - o["start"]) / 1000, 4) for o in ops},
        "hygiene": {"steal_ticks": steal, "loadavg_start": load0, "loadavg_end": os.getloadavg(),
                    "cores": cfg["cores"]},
        "end_to_end": e2e,
    })
    shown = e2e
    last = f"{root}/.bench_build/last"
    os.makedirs(last, exist_ok=True)
    if args.trace:
        shown, spans = per_layer([m["name"] for m in bench["per_layer"]], ops, passes, extra,
                                 cli, cfg["cores"])
        report["per_layer"] = shown
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        with open(f"{last}/{args.workload}.spans.jsonl", "w") as f:
            f.writelines(json.dumps(dict(s, run=run_id)) + "\n" for s in spans)
    with open(f"{last}/{args.workload}.trace{args.trace}.json", "w") as f:
        json.dump(report, f, indent=1)
    if args.record:
        with open(os.path.join(HERE, "expected.json"), "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    print("perfbench: " + json.dumps(report, sort_keys=True))
    print(json.dumps({
        "correct": not failures, "attempted": len(ops), "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
    }))


if __name__ == "__main__":
    main()
