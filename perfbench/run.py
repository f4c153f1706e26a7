#!/usr/bin/env python3
"""Benchmark of the graft engine: the medallion pipeline and the query
registry, measured end to end and, with --trace 1, per layer.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The first run in a checkout builds the engine and this harness with sbt
(offline) into target/ and perfbench/target/; later runs reuse the build
while the sources are unchanged. Each run starts one JVM with Spark at
local[<cpus>], runs one closed loop with one client, checks the outputs and
prints one JSON object as the last line of stdout. Scratch files live under
.bench_build/ and are removed when the run ends. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
import checks  # noqa: E402
import fixture  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"

# Sizes of each workload. `min_ops` / `min_passes` is the least the timed
# loop runs, however short --seconds is.
WORKLOADS = {
    "medallion_1k": {"kind": "medallion", "rows": 1000, "min_ops": 1},
    "core_sf001": {
        "kind": "queries", "sf": 0.01, "min_passes": 2,
        "queries": [
            "q01_pricing_summary", "q04_regional_revenue",
            "q05_dedup_keep_first", "q07_median_quantiles", "q08_iqr_clip",
            "q10_describe_stats", "q11_correlation", "q13_window_funcs",
            "q20_nunique", "q47_brand_margins", "q61_grouped_quantiles"]},
}
SETUP_REPS = 3
JVM_TIMEOUT_S = 165
HEAP = "3g"

SPANS = ["gen.bronze", "etl.clean_traffic", "etl.clean_weather", "etl.merge",
         "analytics.factor_analysis", "analytics.monte_carlo",
         "analytics.bootstrap", "queries.build", "queries.execute"]
SPAN_COUNTERS = {
    "wall_s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
    "tasks_failed": "count", "task_cpu_s": "s", "cpu_per_wall": "ratio",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "output_bytes": "bytes", "result_bytes": "bytes"}
# per-layer metrics beyond <span>.<counter>; those a workload lacks read 0
LAYER_EXTRA = {
    "queries.plan_s": "s", "etl.merge.rows_out": "count",
    "etl.merge.fanout": "ratio", "analytics.bootstrap.nsim": "count",
    "io.bronze_bytes": "bytes", "io.silver_bytes": "bytes",
    "io.gold_bytes": "bytes", "io.lake_bytes_per_input_byte": "ratio",
    "jvm.peak_rss_mb": "MB", "trace.unattributed_jobs": "count",
    "trace.overhead_s": "s", "trace.overhead_pct": "%"}
LAYER_UNITS = {**{f"{s}.{c}": u for s in SPANS
                  for c, u in SPAN_COUNTERS.items()}, **LAYER_EXTRA}
E2E_UNITS = {"pass_s": "s", "op_p50_s": "s", "op_p90_s": "s", "setup_s": "s"}

# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt)
ADD_OPENS = [a for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg: str) -> None:
    log(msg)
    sys.exit(2)


def source_stamp() -> str:
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in [ROOT / "src" / "main", ROOT / "project", HERE / "src",
              HERE / "project"]:
        files += [p for p in d.rglob("*")
                  if p.is_file() and "target" not in p.relative_to(d).parts]
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build() -> str:
    """Compiles engine and harness if the sources changed; the classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"no engine sources (build.sbt, src/main) under {ROOT}")
    stamp, cp_file = source_stamp(), BUILD / "classpath.txt"
    stamp_file = BUILD / "stamp.txt"
    if cp_file.is_file() and stamp_file.is_file() \
            and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts + env.get("SBT_OPTS", "").split())
    log("building engine and harness with sbt")
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=800)
    (BUILD / "build.log").write_text(r.stdout + r.stderr)
    lines = [l for l in r.stdout.splitlines()
             if "perfbench" in l and "classes" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"sbt build failed; see {BUILD / 'build.log'}")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


def run_jvm(cp: str, work: Path, params: dict) -> dict:
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    cmd = ["java", *ADD_OPENS, f"-Xmx{HEAP}", "-XX:-UsePerfData",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "perfbench.Main", f"work={work}",
           *[f"{k}={v}" for k, v in params.items()]]
    with open(work / "jvm.log", "w") as out:
        try:
            r = subprocess.run(cmd, cwd=work, env=env, stdout=out,
                               stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
            why = f"JVM failed with code {r.returncode}"
        except subprocess.TimeoutExpired:
            r, why = None, f"JVM exceeded {JVM_TIMEOUT_S} s"
    result = work / "result.json"
    if r is None or r.returncode != 0 or not result.is_file():
        fail(f"{why}:\n{(work / 'jvm.log').read_text()[-3000:]}")
    return json.loads(result.read_text())


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*")
               if p.is_file() and not p.name.startswith((".", "_")))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def counters(spans: dict, span: str, per: float = 1) -> dict:
    """`<span>.<counter>` values of one operation, divided by `per`."""
    s = spans.get(span, {})
    out = {f"{span}.{c}": s.get(c, 0) / per for c in SPAN_COUNTERS}
    wall = s.get("wall_s", 0.0)
    out[f"{span}.cpu_per_wall"] = s.get("task_cpu_s", 0.0) / wall if wall else 0.0
    return out


def span_metrics(per_op: list) -> dict:
    """Each span counter summed over one traced operation, then the median
    over the traced operations."""
    ops = [{k: v for span in SPANS for k, v in counters(spans, span).items()}
           for spans in per_op]
    for spans, m in zip(per_op, ops):
        m["queries.plan_s"] = sum(spans.get(s, {}).get("plan_s", 0.0)
                                  for s in ("queries.build", "queries.execute"))
        m["trace.unattributed_jobs"] = spans.get("unattributed", {}).get("jobs", 0)
    return {k: median([m[k] for m in ops]) for k in ops[0]}


def overhead(traced: list, plain: list) -> dict:
    """Tracing overhead: traced operations against the untraced ones after
    the first, which still runs measurably slower as the JIT warms up."""
    plain = plain[1:] if len(plain) > 1 else plain
    d = median(traced) - median(plain)
    return {"trace.overhead_s": d,
            "trace.overhead_pct": 100 * d / median(plain) if plain else 0.0}


def medallion(args, cfg, cp, work, con) -> dict:
    res = run_jvm(cp, work, {
        "workload": "medallion", "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "rows": args.rows or cfg["rows"],
        "setup_reps": SETUP_REPS,
        "min_ops": 3 if args.trace else cfg["min_ops"],
        "fail": int(args.force_fail)})
    w = res["workload"]
    problems = []
    if w["warmup_error"]:
        problems.append(f"warm-up run: {w['warmup_error']}")
    else:
        problems += [f"warm-up lake: {p}"
                     for p in checks.lake(con, Path(w["warmup_lake"]))]
    failed = 0
    for i, op in enumerate(w["ops"]):
        bad = [op["error"]] if op["error"] else checks.lake(con, Path(op["lake"]))
        if not bad and op["traced"] and not w["warmup_error"]:
            # the traced replay must write what Pipeline.run writes
            bad = checks.same_lake(con, Path(op["lake"]),
                                   Path(w["warmup_lake"]))
        problems += [f"run {i}: {p}" for p in bad]
        failed += bool(bad)

    # an operation that threw has no latency to report
    plain = [op["wall_s"] for op in w["ops"]
             if not op["traced"] and not op["error"]]
    layer = {}
    if args.trace:
        traced = [op for op in w["ops"] if op["traced"]]
        layer = span_metrics([op["spans"] for op in traced])
        gen_calls = w["setup_spans"].get("gen.bronze", {}).get("calls", 0)
        layer.update(counters(w["setup_spans"], "gen.bronze", max(1, gen_calls)))
        lake = Path(traced[-1]["lake"])

        def rows(table):
            return con.execute(f"SELECT count(*) FROM "
                               f"'{lake}/silver/{table}.parquet/*.parquet'"
                               ).fetchone()[0]
        merged, traffic = rows("merged_data"), rows("traffic_clean")
        size = {d: dir_bytes(lake / d) for d in ("bronze", "silver", "gold")}
        layer.update({
            "etl.merge.rows_out": merged,
            "etl.merge.fanout": merged / traffic if traffic else 0.0,
            "analytics.bootstrap.nsim": median(
                [op["nsim"] for op in traced if op["nsim"] is not None]),
            "io.bronze_bytes": size["bronze"],
            "io.silver_bytes": size["silver"],
            "io.gold_bytes": size["gold"],
            "io.lake_bytes_per_input_byte":
                (size["silver"] + size["gold"]) / size["bronze"],
            **overhead([op["wall_s"] for op in traced], plain)})
    bronze = sorted(Path(w["bronze"]).rglob("part-*"))
    return {
        "res": res, "setups": w["setup_s"], "layer": layer,
        "e2e": {"pass_s": median(plain), "op_p50_s": median(plain),
                "op_p90_s": p90(plain)},
        "attempted": len(w["ops"]), "failed": failed, "problems": problems,
        "info": {"op_walls_s": [op["wall_s"] for op in w["ops"]],
                 "bronze_sha256": hashlib.sha256(
                     b"".join(p.read_bytes() for p in bronze)).hexdigest()}}


def queries(args, cfg, cp, work, con) -> dict:
    names = args.queries.split(",") if args.queries else cfg["queries"]
    fx = work / "fixture"
    setups = []
    for _ in range(SETUP_REPS):
        shutil.rmtree(fx, ignore_errors=True)
        t0 = time.perf_counter()
        fixture_bytes = fixture.write(fx, args.sf or cfg["sf"], args.seed)
        setups.append(time.perf_counter() - t0)
    for t in fixture.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fx / t}.parquet'")
    res = run_jvm(cp, work, {
        "workload": "queries", "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "fixture": fx, "queries": ",".join(names),
        "min_passes": 3 if args.trace else cfg["min_passes"],
        "fail": int(args.force_fail)})
    w = res["workload"]
    problems, wrong = [], set()
    for o in w["outputs"]:
        bad = [o["error"]] if o["error"] else (
            checks.query(con, Path(o["dir"]), o["oracle"]) if o["oracle"]
            else ["no oracle SQL"])
        if bad:
            wrong.add(o["name"])
            problems += [f"{o['name']}: {p}" for p in bad]
    attempted = failed = 0
    lat = []
    for p in w["passes"]:
        for op in p["ops"]:
            attempted += 1
            if op["error"]:
                problems.append(f"{op['name']}: {op['error']}")
            if op["error"] or op["name"] in wrong:
                failed += 1
            if not p["traced"] and not op["error"]:
                lat.append(op["build_s"] + op["execute_s"])
    # a pass in which a query threw has no pass time to report
    plain = [p["wall_s"] for p in w["passes"] if not p["traced"]
             and not any(op["error"] for op in p["ops"])]
    layer = {}
    if args.trace:
        traced = [p for p in w["passes"] if p["traced"]]
        layer = {**span_metrics([p["spans"] for p in traced]),
                 **overhead([p["wall_s"] for p in traced], plain)}
    return {
        "res": res, "setups": setups, "layer": layer,
        "e2e": {"pass_s": median(plain), "op_p50_s": median(lat),
                "op_p90_s": p90(lat)},
        "attempted": attempted, "failed": failed, "problems": problems,
        "info": {"pass_walls_s": [p["wall_s"] for p in w["passes"]],
                 "fixture_bytes": fixture_bytes, "queries": names}}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # smaller sizes and a forced failure, for perfbench/selftest.py
    ap.add_argument("--rows", type=int, help=argparse.SUPPRESS)
    ap.add_argument("--sf", type=float, help=argparse.SUPPRESS)
    ap.add_argument("--queries", help=argparse.SUPPRESS)
    ap.add_argument("--force-fail", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    cfg = WORKLOADS[args.workload]
    # on SIGTERM, unwind so that subprocess.run kills and reaps sbt or the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    work = BUILD / f"run-{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        con = checks.connect(work)
        body = medallion if cfg["kind"] == "medallion" else queries
        r = body(args, cfg, cp, work, con)
        con.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res, w = r["res"], r["res"]["workload"]
    e2e = {**r["e2e"], "setup_s":
           res["session_s"] + w["warmup_s"] + median(r["setups"])}
    layer = {k: 0 for k in LAYER_UNITS}
    layer.update({**r["layer"], "jvm.peak_rss_mb": res["peak_rss_kb"] / 1024})
    metrics = ({k: {"value": layer[k], "unit": u}
                for k, u in LAYER_UNITS.items()} if args.trace else
               {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()})
    attempted, failed = r["attempted"], r["failed"]
    for p in r["problems"]:
        log(f"check failed: {p}")
    detail = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "cpus": res["cpus"], "attempted": attempted,
              "failed": failed, "fail_rate": failed / attempted,
              "session_s": res["session_s"], "warmup_s": w["warmup_s"],
              "setup_reps_s": r["setups"], "end_to_end": e2e,
              "per_layer": layer if args.trace else {},
              "problems": r["problems"], **r["info"]}
    (BUILD / f"last-{args.workload}-trace{args.trace}.json").write_text(
        json.dumps(detail, indent=1))
    for k, m in metrics.items():
        print(f"{args.workload} {k} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} fail_rate = {failed / attempted:.6g} "
          f"({failed} of {attempted} operations)")
    print(json.dumps({"correct": not r["problems"] and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
