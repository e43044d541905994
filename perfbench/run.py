"""The benchmark's one command. From the root of a checkout:

    python3 perfbench/run.py --workload <ingest|queries> \\
        --seed <n> --seconds <s> --trace <0|1>

builds the program (once per source state), generates the seeded
inputs, runs the workload in a fresh JVM, checks every output, prints a
report and, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. See README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

JVM_TIMEOUT_S = 170
HEAP = "1g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

THREADS = min(3, os.cpu_count() or 1)  # Spark local threads, at most nproc
# The calibration round's time on the reference host (4 vCPU VM, JDK 17).
# Timed-phase times are scaled by REF_CALIB_S / (median round time). The
# rounds run in a JVM of their own just after the harness JVM has
# exited, so the program cannot slow them: the scaling removes the
# host's speed drift of 10-20% between runs and nothing else.
REF_CALIB_S = 0.125
CALIB_ROUNDS = 7


def metric_units(kind: str) -> dict:
    """Name → unit of the `end_to_end` or `per_layer` metrics that
    BENCHMARK.json, next to this directory, declares."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


# Work per run. The op counts are fixed for a given --seconds: the timed
# phase is a list of operations, never a time budget.
# One file per device-hour of 3,600 rows (one row a second), the
# reference's file shape.
INGEST = dict(devices=3, rows_per_file=3600, malformed_every=50,
              warm_hours=2, past_hours=2, timed_per_10s=4)
# One round of these ten queries per 10 s of --seconds.
QUERY_MIX = ["q01_scan_filter", "q02_epoch_norm", "q03_window_agg", "q05_sentinel",
             "q08_topn", "q10_join_star", "q14_analytic_window",
             "q101_bigram_lm", "q132_cluster_split", "q138_lsh_recall"]
QUERY_TABLES = dict(lineitem=12000, docs=300)


def fail(msg: str) -> None:
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def write_tsv(path: str, rows) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write("\t".join(str(x) for x in r) + "\n")


def prepare(workload: str, work: str, seed: int, seconds: int) -> dict:
    """Generate the seeded inputs; returns what the checks need."""
    import gen
    import numpy as np
    if workload == "ingest":
        past, today = datetime(2024, 3, 1), datetime(2024, 3, 2)
        n = INGEST["devices"]
        hours = ([("warm", "DISTRICTW", past, h) for h in range(INGEST["warm_hours"])]
                 + [("past", "DISTRICTB", past, h) for h in range(INGEST["past_hours"])]
                 + [("timed", "DISTRICTB", today, h)
                    for h in range(max(2, INGEST["timed_per_10s"] * seconds // 10))])
        plan = gen.gen_bronze(os.path.join(work, "bronze"), seed, n, INGEST["rows_per_file"],
                              INGEST["malformed_every"], hours)
        write_tsv(os.path.join(work, "plan.tsv"),
                  [(p["phase"], p["district"], p["day"], p["hour"], p["rel"], p["valid"], p["malformed"])
                   for p in plan])
        # after each hourly batch the client loads one dashboard slice: the
        # hours just ingested, or (every other hour) the compacted past day
        rng = np.random.default_rng([seed, 6])
        slices = []
        for phase, district, day, h in hours:
            if phase == "timed" and h % 2 == 0:
                req = gen.slice_request(rng, past, (0, INGEST["past_hours"] - 1), n, district)
            else:
                req = gen.slice_request(rng, day, (max(0, h - 1), h), n, district)
            slices.append((phase, req))
        write_tsv(os.path.join(work, "slices.tsv"),
                  [(ph, r["day"], r["district"], ",".join(r["units"]), r["h0"], r["h1"],
                    ",".join(f"LD{100 + u}" for u in range(n))) for ph, r in slices])
        return {"requests": [r for ph, r in slices if ph == "timed"]}
    os.makedirs(os.path.join(work, "tables"))
    gen.gen_tables(os.path.join(work, "tables"), seed, QUERY_TABLES["lineitem"], QUERY_TABLES["docs"])
    rounds = max(1, round(seconds / 10))
    rng = np.random.default_rng([seed, 5])
    order = [q for _ in range(rounds) for q in rng.permutation(QUERY_MIX).tolist()]
    write_tsv(os.path.join(work, "mix.tsv"),
              [("mix", q) for q in QUERY_MIX] + [("timed", q) for q in order])
    return {}


def jvm(cp: str, workload: str, work: str, threads: int, trace: int):
    """Start the harness JVM; returns (exit code or "timeout", log path)."""
    # no hsperfdata file: the run writes only inside the checkout
    # compiler threads live as long as the JVM, so that their CPU time
    # can be read at both edges of the timed phase
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads", f"-Dperfbench.clk_tck={os.sysconf('SC_CLK_TCK')}",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.stream.error.file={work}/derby.log",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "perfbench.Harness", workload, work, str(threads), str(trace)])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, f"jvm-{threads}.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    return code, log_path


def calib(cp: str) -> list:
    """CALIB_ROUNDS timings of the calibration round in a fresh JVM."""
    r = subprocess.run(["java", "-Xmx64m", "-XX:-UsePerfData", "-cp", cp, "perfbench.Calib",
                        str(CALIB_ROUNDS)], stdout=subprocess.PIPE, text=True, timeout=60)
    if r.returncode != 0:
        fail(f"calibration JVM ended with {r.returncode}")
    return [float(x) for x in r.stdout.split()]


def run_jvm(cp: str, workload: str, work: str, threads: int, trace: int) -> dict:
    code, log_path = jvm(cp, workload, work, threads, trace)
    if code != 0 or not os.path.exists(os.path.join(work, "result.json")):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"{workload} JVM ended with {code}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def secs(o: dict) -> float:
    return (o["end_ms"] - o["start_ms"]) / 1e3


def trend(workload: str, res: dict) -> float:
    """Steadiness of the timed phase; 1.0 is flat, above 1 means ops
    were still getting faster. Ingest: median of the first quarter of
    the cycles over that of the last quarter. Queries: per query, its
    last warm-up time over its timed time; the median of those."""
    if workload == "queries":
        last = {o["name"]: secs(o) for o in res["warm_ops"]}
        return statistics.median(last[o["name"]] / secs(o) for o in res["ops"])
    xs = [secs(o) for o in res["ops"] if o["kind"] == "cycle"]
    q = max(1, len(xs) // 4)
    return statistics.median(xs[:q]) / statistics.median(xs[-q:])


def check(workload: str, work: str, need: dict, ops: list) -> dict:
    """Failed op index → reason, from the harness's own checks and the
    DuckDB checks of the dashboard slices and the query references."""
    from check import check_dashboard, check_queries
    bad = {i: [o["why"]] for i, o in enumerate(ops) if not o["ok"]}
    if workload == "ingest":
        cycles = [i for i, o in enumerate(ops) if o["kind"] == "cycle"]
        for i, why in check_dashboard(work, need["requests"], os.path.join(work, "bronze")).items():
            bad.setdefault(cycles[i], []).append(why)
    else:
        wrong = check_queries(work, sorted({o["name"] for o in ops}))
        for i, o in enumerate(ops):
            if o["name"] in wrong:
                bad.setdefault(i, []).append("reference result vs DuckDB: " + wrong[o["name"]])
    return {i: "; ".join(v) for i, v in bad.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", default=os.path.join(HERE, ".runs"),
                    help="directory for the run's report (default perfbench/.runs)")
    ap.add_argument("--scaling", action="store_true",
                    help="also run the same inputs on one Spark thread (the scaling baseline)")
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail(f"run from the root of a checkout of the program ({root} has no src/main/scala/graft)")
    cp = build.build()

    t_setup = time.time()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    need = prepare(a.workload, work, a.seed, a.seconds)
    t_jvm = time.time()
    res = run_jvm(cp, a.workload, work, THREADS, a.trace)
    calib_s = calib(cp)

    ops = res["ops"]
    bad = check(a.workload, work, need, ops)
    work_s = res["work_s"]
    raw = {"work_s": work_s, "cpu_s": res["cpu_s"] - res["jit_cpu_s"]}
    speed = REF_CALIB_S / statistics.median(calib_s)
    if "trace.work_s" in res["layers"]:  # compared with the untraced work_s
        res["layers"]["trace.work_s"] *= speed
    e2e = {"setup_s": res["first_op_ms"] / 1e3 - t_setup,
           **{k: v * speed for k, v in raw.items()},
           "rss_peak_mb": res["rss_peak_mb"]}
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "threads": THREADS, "ops": len(ops), "warmup_ops": len(res["warm_ops"]),
        "fail_ratio": len(bad) / len(ops), "trend": trend(a.workload, res),
        "process_cpu_s": res["cpu_s"], "jit_cpu_s": res["jit_cpu_s"],
        "jit_s": res["jit_s"], "jit_share_of_work": res["jit_s"] / work_s, "gc_s": res["gc_s"],
        "setup_phases": {
            "generate_s": t_jvm - t_setup,
            "jvm_to_session_s": (res["session_ms"] - res["jvm_start_ms"]) / 1e3,
            "prepare_s": (res["warm_start_ms"] - res["session_ms"]) / 1e3,
            "warmup_s": (res["first_op_ms"] - res["warm_start_ms"]) / 1e3},
        "host_speed": speed, "calib_s": calib_s, "end_to_end": e2e, "unscaled": raw,
        "extra": res["extra"], "per_layer": res["layers"],
        "op_s": [round(secs(o), 4) for o in ops],
        "warmup_op_s": [round(secs(o), 4) for o in res["warm_ops"]],
        "failures": {str(k): v for k, v in bad.items()}}
    if a.scaling:
        # the same inputs again on one Spark thread: the scaling baseline
        for d in ("silver", "spark-local", "tmp", "dash_out", "ref"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
        os.remove(os.path.join(work, "result.json"))
        one = run_jvm(cp, a.workload, work, 1, a.trace)
        report["local1_work_s"] = one["work_s"]
        report["local1_over_threads"] = one["work_s"] / work_s
    for k, v in report.items():
        if isinstance(v, dict):
            print(f"{k}:")
            for k2, v2 in v.items():
                print(f"  {k2} = {v2}")
        else:
            print(f"{k}: {v}")

    runs = a.out
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}.json"), "w") as f:
        json.dump(report, f, indent=1)
    if a.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(runs, f"{a.workload}-s{a.seed}-spans-{os.getpid()}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        missing = set(metric_units("per_layer")) - set(res["layers"])
        if missing:
            fail(f"the traced run recorded no {sorted(missing)}")
        metrics = {k: {"value": float(res["layers"][k]), "unit": u}
                   for k, u in metric_units("per_layer").items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in metric_units("end_to_end").items()}
    print(json.dumps({"correct": not bad, "attempted": len(ops), "failed": len(bad), "metrics": metrics}))


if __name__ == "__main__":
    main()
