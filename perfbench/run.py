#!/usr/bin/env python3
"""Benchmark of the Spark/Parquet engine over the Hadoop FileSystem API.

    python3 perfbench/run.py --workload query-mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --classify      # re-derive perfbench/pool.json

Run from the repository root. The first run builds the program and the
benchmark driver with sbt (perfbench/build.sbt) into the checkout. Every run
generates the corpus, makes its op stream from the seed, starts one JVM (the
driver, a closed loop with one client on local[nproc]), checks every result,
and prints one JSON line last: end-to-end metrics with `--trace 0`, per-layer
metrics with `--trace 1`. Everything it writes stays under .bench_build/.
"""
from __future__ import annotations

import argparse
import hashlib
import itertools
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import corpus  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

BUILD = ROOT / ".bench_build"
WORKLOADS = ("query-mix", "bulk-scan", "catalog-dml")
BULK_REPLICAS = 4
MEASURED_ROUNDS = 2
STRATUM_SIZE = 24
JVM_TIMEOUT_S = 165
ORACLE_BUDGET_S = 2.0
MAX_QUERY_MS = 3000
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg: str) -> None:
    log(msg)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_hash() -> str:
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "src" / "main", ROOT / "project", HERE / "src", HERE / "project"):
        files += sorted(p for p in d.rglob("*") if p.is_file() and "target" not in p.parts)
    for p in files:
        if p.exists():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build() -> list[str]:
    """Classpath of the built program plus driver; builds when sources changed."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no program sources (build.sbt, src/main/scala) next to perfbench/; run from a full checkout")
    BUILD.mkdir(exist_ok=True)
    cp_file, stamp = BUILD / "classpath.txt", BUILD / "build.hash"
    want = source_hash()
    if not (cp_file.is_file() and stamp.is_file() and stamp.read_text() == want):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = Path.home() / ".sbt" / "repositories"
        if "SBT_OPTS" not in env and repos.is_file():
            env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                               "-Dsbt.offline=true -Xmx4g")
        log("building program and driver (sbt writeClasspath)")
        with open(BUILD / "build.log", "w") as out:
            r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                               cwd=HERE, stdout=out, stderr=subprocess.STDOUT, env=env)
        if r.returncode != 0 or not cp_file.is_file():
            fail(f"build failed, see {BUILD / 'build.log'}")
        stamp.write_text(want)
    return cp_file.read_text().strip().split(os.pathsep)


def run_jvm(classpath: list[str], plan: dict, run_dir: Path, timeout_s: float = JVM_TIMEOUT_S) -> tuple[dict, float]:
    """Runs the driver on `plan`; returns its results and the launch time."""
    plan_path, res_path = run_dir / "plan.json", run_dir / "results.json"
    plan_path.write_text(json.dumps(plan))
    (run_dir / "tmp").mkdir()
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx4g", "-Xms4g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp", os.pathsep.join(classpath),
            "perfbench.Main", str(plan_path), str(res_path)])
    launched = time.time()
    with open(run_dir / "jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("driver JVM timed out")
    if proc.returncode != 0 or not res_path.is_file():
        tail = (run_dir / "jvm.log").read_text(errors="replace").splitlines()[-30:]
        fail("driver JVM failed:\n" + "\n".join(tail))
    return json.loads(res_path.read_text()), launched


# ---------------------------------------------------------------- checks

def check_queries(res: dict, corpus_dir: Path) -> dict[int, str]:
    """Failures by op id: DuckDB compare of each query's first result (in
    warm-up or in the window), and digest equality of every result with it."""
    oracle_sql = json.loads(Path(res["oracle_sql"]).read_text())["oracle"]
    con = oracle.connect(corpus_dir)
    bad = {}
    verdict = {}
    for name, path in res["results"].items():
        sql = oracle_sql.get(name)
        verdict[name] = oracle.check_query(con, path, sql) if sql else "no oracle SQL"
    for o in res["ops"]:
        if "digest" in o and o["name"] in verdict and verdict[o["name"]]:
            bad[o["id"]] = verdict[o["name"]]
        elif o.get("same_as_first") is False:
            bad[o["id"]] = "result differs from the first execution"
    return bad


def check_bulk_writes(res: dict, corpus_dir: Path) -> dict[int, str]:
    con = oracle.connect(corpus_dir)
    expect = oracle.readback_values(con, f"{corpus_dir}/lineitem.parquet/*.parquet")
    bad = {}
    for o in res["ops"]:
        if not o.get("ok"):
            continue
        if o["name"] == "write_lineitem":
            got = oracle.readback_values(con, f"{o['path']}/*.parquet")
            if got != expect:
                bad[o["id"]] = f"written files aggregate {got} != corpus {expect}"
        elif o["name"] == "readback_agg" and o.get("values") != expect:
            bad[o["id"]] = f"read-back {o.get('values')} != corpus {expect}"
    return bad


def check_catalog(res: dict, stream: list[dict], initial: dict) -> dict[int, str]:
    """Replays the executed prefix of the statement stream on a model of each
    table and compares every read; notes on each commit the rows it touched."""
    models = {t["name"]: workloads.Model(initial) for t in workloads.TABLES}
    bad, broken = {}, set()
    for o in res["ops"]:
        s, t = stream[(o["id"] - 1) // len(workloads.TABLES)], o["table"]
        m = models[t]
        if t in broken:
            bad[o["id"]] = "an earlier statement on this table failed"
        elif not o["ok"]:
            bad[o["id"]] = o.get("error", "failed")
            if o["kind"] == "commit":
                broken.add(t)
        elif o["kind"] == "commit":
            o["touched"] = m.apply(s)
        else:
            want = m.rows if s["op"] == "read" else m.snapshots[s["of"]]
            if o.get("digest") != workloads.Model.digest(want):
                bad[o["id"]] = f"{s['op']} on {t}: {o.get('rows')} rows, model has {len(want)}"
    return bad


# ---------------------------------------------------------------- workloads

def load_pool() -> list[dict]:
    return json.loads((HERE / "pool.json").read_text())["included"]


def make_plan(workload: str, seed: int, trace: bool, base_dir: Path, bulk_dir: Path | None,
              run_dir: Path, tables) -> tuple[dict, list]:
    plan = {"corpus": str(base_dir), "run_dir": str(run_dir), "cores": len(os.sched_getaffinity(0)),
            "trace": trace, "seconds": 0, "oracle_out": str(run_dir / "oracle_sql.json"),
            "spans_path": str(BUILD / "spans" / f"{workload}-seed{seed}.jsonl"),
            "warmup": ["q01_pricing_summary"]}
    stream = []
    if workload == "query-mix":
        # only query-mix runs the queries that probe the persisted serving indexes;
        # one untimed pass compiles each query's code, so ops are timed warm
        picked = workloads.mix_queries(load_pool(), STRATUM_SIZE)
        plan["prewarm"] = True
        plan["warmup"] = picked
        plan["rounds"] = workloads.query_mix(picked, str(base_dir), seed, trace)
    elif workload == "bulk-scan":
        # two rounds run in set-up (they also stand for the warm-up query):
        # a cold write or read-back takes about 3.5 times as long as a warm
        # one, and the round after the first is still up to twice as slow
        plan["warmup"] = []
        plan["rounds"] = workloads.bulk_scan(str(bulk_dir), seed, trace)
        plan["warm_rounds"] = 2
    else:
        initial = workloads.seed_rows(tables["orders"])
        seed_path = run_dir / "seed_rows.parquet"
        import pyarrow as pa
        import pyarrow.parquet as pq
        keys = sorted(initial)
        pq.write_table(pa.table({
            "k": pa.array(keys, pa.int64()),
            "cust": pa.array([initial[k][0] for k in keys], pa.int64()),
            "status": [initial[k][1] for k in keys],
            "cents": pa.array([initial[k][2] for k in keys], pa.int64()),
            "prio": [initial[k][3] for k in keys],
        }), seed_path)
        blocks = workloads.statements(seed, initial, workloads.ROUNDS)
        stream = [st for b in blocks for st in b]
        plan["rounds"] = workloads.catalog_dml(blocks, trace)
        plan["catalog"] = {"root": str(run_dir / "catalog"), "seed_parquet": str(seed_path),
                           "tables": list(workloads.TABLES)}
        # the first block runs in set-up: the first MERGE or OPTIMIZE of a
        # session takes about twice as long as later ones
        plan["warm_rounds"] = 1
    return plan, stream


def space_amp(res: dict, run_dir: Path) -> float:
    """Table-directory bytes over the bytes of one compact copy of the live
    rows, averaged over the two tables."""
    amps = []
    for name, compact in res.get("compact", {}).items():
        table_dirs = [p for p in (run_dir / "catalog").rglob(name) if p.is_dir()]
        table_bytes = sum(corpus.dir_bytes(p)[0] for p in table_dirs)
        amps.append(table_bytes / max(1, corpus.dir_bytes(Path(compact))[0]))
    return sum(amps) / len(amps) if amps else 0.0


def end_to_end(ops: list[dict], setup_s: float) -> tuple[dict, dict]:
    """The gated metrics (defined on every workload) and the rest of the
    end-to-end figures, which some workloads lack or which need 100 samples."""
    ms = [o["ms"] for o in ops]
    reads = [o["ms"] for o in ops if o["kind"] == "read"]
    commits = [o["ms"] for o in ops if o["kind"] == "commit"]
    gated = {
        "setup_s": (setup_s, "s"),
        # closed loop, one client: ops over the time spent in them (the
        # untimed result checks between ops are left out)
        "ops_per_s": (len(ops) / (sum(ms) / 1000.0), "1/s"),
        "op_p50_ms": (stats.kind_median(ops), "ms"),
        "read_p50_ms": (stats.kind_median([o for o in ops if o["kind"] == "read"]), "ms"),
    }
    extra = {
        "op_plain_p50_ms": stats.percentile(ms, 0.5), "read_plain_p50_ms": stats.percentile(reads, 0.5),
        "op_p90_ms": stats.percentile(ms, 0.9), "read_p90_ms": stats.percentile(reads, 0.9),
        "commit_p50_ms": stats.percentile(commits, 0.5), "commit_p90_ms": stats.percentile(commits, 0.9),
        "samples": {"ops": len(ops), "reads": len(reads), "commits": len(commits)},
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in gated.items()}, extra


def write_amp(res: dict) -> float:
    """Bytes the traced catalog commits wrote over the compact bytes of the
    rows they touched."""
    sizes = sum(corpus.dir_bytes(Path(p))[0] for p in res.get("compact", {}).values())
    rows = sum(res.get("live_rows", {}).values())
    commits = [o for o in res["ops"] if o["traced"] and "fs" in o and "touched" in o]
    logical = sum(o["touched"] for o in commits) * (sizes / rows if rows else 0.0)
    return sum(o["fs"]["write_bytes"] for o in commits) / logical if logical else 0.0


def unit(name: str) -> str:
    if name.endswith(("_ms", ".ms")) or "_ms_" in name:
        return "ms"
    if name.endswith("bytes"):
        return "bytes"
    if name in ("spark_jobs.core_util", "catalog.write_amp"):
        return "ratio"
    return "count"


def run(args) -> None:
    classpath = build()
    run_dir = BUILD / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        t0 = time.time()
        base_dir, bulk_dir = run_dir / "corpus", None
        tables = corpus.write_base(base_dir)
        if args.workload == "bulk-scan":
            bulk_dir = run_dir / "bulk"
            corpus.write_bulk(tables, base_dir, bulk_dir, BULK_REPLICAS)
        plan, stream = make_plan(args.workload, args.seed, bool(args.trace), base_dir, bulk_dir, run_dir, tables)
        plan["seconds"] = args.seconds
        # a traced plan interleaves traced and untraced rounds
        plan["max_rounds"] = MEASURED_ROUNDS * (2 if args.trace else 1)
        corpus_s = time.time() - t0
        res, launched = run_jvm(classpath, plan, run_dir)
        setup_s = corpus_s + (res["setup_end_ms"] / 1000.0 - launched)
        if args.workload == "catalog-dml":
            bad = check_catalog(res, stream, workloads.seed_rows(tables["orders"]))
        else:
            bad = check_queries(res, bulk_dir or base_dir)
            if bulk_dir:
                bad.update(check_bulk_writes(res, bulk_dir))
        for o in res["ops"]:
            if not o["ok"]:
                bad.setdefault(o["id"], o.get("error", "failed"))
        for i, why in sorted(bad.items())[:10]:
            log(f"op {i} failed: {why}")
        measured = [o for o in res["ops"] if not o.get("warmup")]
        metrics, extra = end_to_end(measured, setup_s)
        summary = {k: v["value"] for k, v in metrics.items()}
        summary.update(extra, failed_ratio=len(bad) / len(res["ops"]), peak_rss_mb=res["peak_rss_mb"])
        if args.workload == "catalog-dml":
            summary["space_amp"] = space_amp(res, run_dir)
        summary["setup_phases_s"] = dict(res["setup"], corpus_s=corpus_s)
        if args.trace:
            spans = []
            if res.get("spans"):
                with open(plan["spans_path"]) as f:
                    spans = [json.loads(line) for line in f]
            layer = stats.layer_metrics(measured, plan["cores"], spans, write_amp(res))
            metrics = {k: {"value": v, "unit": unit(k)} for k, v in layer.items()}
            with open(BUILD / "spans" / f"{args.workload}-seed{args.seed}-ops.json", "w") as f:
                json.dump(res["ops"], f)
        log("summary " + json.dumps(summary))
        print(json.dumps({"correct": not bad, "attempted": len(res["ops"]), "failed": len(bad),
                          "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


# ---------------------------------------------------------------- classify

def classify_results(res: dict, names: list[str], base_dir: Path) -> dict:
    """The pool file's content from the two traced runs of every query."""
    oracle_sql = json.loads(Path(res["oracle_sql"]).read_text())["oracle"]
    con = oracle.connect(base_dir)
    by_name: dict[str, list] = {}
    for o in res["ops"]:
        by_name.setdefault(o["name"], []).append(o)
    included, excluded = [], []
    for n in names:
        runs = by_name.get(n, [])
        writes = {k: sum(o.get("fs", {}).get(f"{k}.calls", 0) for o in runs) for k in ("create", "rename", "delete")}
        reason = None
        if len(runs) < 2 or not all(o["ok"] for o in runs):
            reason = "fails on the benchmark corpus: " + "; ".join(o.get("error", "")[:150] for o in runs if not o["ok"])
        elif any(writes.values()):
            reason = "writes through the FileSystem: " + ", ".join(f"{k}={v}" for k, v in writes.items() if v)
        elif n not in oracle_sql:
            reason = "no oracleSql twin, so its result cannot be checked"
        elif runs[1].get("same_as_first") is False:
            reason = "result differs between two executions"
        elif runs[1]["ms"] > MAX_QUERY_MS:
            reason = f"steady latency {runs[1]['ms']:.0f} ms is over {MAX_QUERY_MS} ms: data-bound, not per-query cost"
        else:
            t0 = time.time()
            diff = oracle.check_query(con, res["results"][n], oracle_sql[n], ORACLE_BUDGET_S)
            if time.time() - t0 > ORACLE_BUDGET_S:
                reason = f"DuckDB oracle takes over {ORACLE_BUDGET_S:.0f} s, too slow to check inside a run"
            elif diff:
                reason = "differs from the DuckDB oracle on the benchmark corpus: " + diff[:200]
        log(f"{n}: {reason or 'included'}")
        if reason:
            excluded.append({"name": n, "reason": reason})
        else:
            included.append({"name": n, "ms": round(runs[1]["ms"], 1)})
    return {
        "about": ("query-mix pool, derived by `python3 perfbench/run.py --classify`: every "
                  "SparkEntry query run twice, traced, on the generated sf0.1 corpus. "
                  "`ms` is the second (steady) run's latency, used for cost strata."),
        "included": included,
        "excluded": excluded,
    }


def classify() -> None:
    """Runs every SparkEntry query twice, traced, on the generated corpus and
    writes perfbench/pool.json: the read-only queries (no FileSystem create,
    rename or delete in either run) that match the DuckDB oracle and repeat
    their result, with their steady latency; and every other query with the
    reason it is left out."""
    classpath = build()
    run_dir = BUILD / "runs" / f"classify-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        base_dir = run_dir / "corpus"
        corpus.write_base(base_dir)
        plan = {"corpus": str(base_dir), "run_dir": str(run_dir), "cores": len(os.sched_getaffinity(0)),
                "trace": True, "seconds": 1e9, "oracle_out": str(run_dir / "oracle_sql.json"),
                "spans_path": str(run_dir / "spans.jsonl"), "warmup": ["q01_pricing_summary"]}
        # a first, empty plan only lists the query names
        plan["rounds"] = []
        res, _ = run_jvm(classpath, plan, run_dir)
        names = json.loads(Path(res["oracle_sql"]).read_text())["all"]
        shutil.rmtree(run_dir / "tmp", ignore_errors=True)
        ids = itertools.count(1)
        plan["rounds"] = [[{"id": next(ids), "name": n, "kind": "read", "type": "query", "dir": str(base_dir)}
                           for n in names] for _ in range(2)]
        res, _ = run_jvm(classpath, plan, run_dir, timeout_s=3600)
        out = classify_results(res, names, base_dir)
        (HERE / "pool.json").write_text(json.dumps(out, indent=1) + "\n")
        log(f"pool: {len(out['included'])} included, {len(out['excluded'])} excluded")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--classify", action="store_true")
    args = ap.parse_args()
    os.chdir(ROOT)
    if args.classify:
        classify()
    elif args.workload:
        run(args)
    else:
        ap.error("--workload or --classify is required")


if __name__ == "__main__":
    main()
