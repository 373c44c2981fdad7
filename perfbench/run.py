#!/usr/bin/env python3
"""Benchmark runner: builds the program and the bench from the checkout's
sources, runs one workload in one JVM, checks every answer, and prints the
metrics as the last stdout line.

    python3 perfbench/run.py --workload olap_cube --seed 1 --seconds 8 --trace 0

Workloads: olap_cube, star_maintain. `--trace 0` prints the
end-to-end metrics; `--trace 1` runs with spans and a job listener and prints
the per-layer metrics. The line before the last is a JSON record of the run:
machine, session config, seed, sample counts and every end-to-end metric of
the workload, including the ones the final line does not carry. Run it from
the root of a checkout; it writes only under perfbench/ (build output in
perfbench/target, run state in perfbench/.work)."""
import argparse
import hashlib
import importlib.util
import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import metrics as M  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
WORKLOADS = ("olap_cube", "star_maintain")
JVM_LIMIT_S = 150  # the JVM's share of a run's 180 s, after any build
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Fingerprint of everything the build compiles."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", ROOT / "src" / "main", BENCH / "project", BENCH / "src" / "main"):
        files += [p for p in d.rglob("*") if p.is_file() and "target" not in p.parts]
    for p in sorted(set(files)):
        if p.exists():
            st = p.stat()
            h.update(f"{p.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    cp_file = BENCH / "target" / "classpath.txt"
    stamp_file = BENCH / "target" / "source.stamp"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building program and bench with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
        "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories")))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0 or not cp_file.exists():
        fail("build failed", 3)
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


def session_config():
    cfg = json.loads((BENCH / "session.json").read_text())
    nproc = os.cpu_count() or 1
    cores = min(int(cfg["cores"]), nproc)
    conf = dict(cfg["conf"], **{"spark.master": f"local[{cores}]",
                                "spark.local.dir": str(WORK / "spark-local")})
    return cfg, cores, conf


def run_jvm(cp, args, raw, cfg, conf, deadline):
    """Run one workload in its own JVM; returns its exit code, or None
    when it overran `deadline` and was killed."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xmx{cfg['heap']}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(WORK), "--out", str(raw)]
    for k, v in conf.items():
        cmd += ["--conf", f"{k}={v}"]
    proc = subprocess.Popen(cmd, cwd=WORK, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)
    try:
        return proc.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log("JVM timed out and was killed")
        return None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def load_comparator():
    """The repository's oracle comparison rules (tools/check_correctness.py)."""
    path = ROOT / "tools" / "check_correctness.py"
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    argv = sys.argv
    sys.argv = [str(path)]
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.argv = argv
    return mod.compare


def check_outputs(raw, data_dir, out_dir):
    """Compare every written query output with its DuckDB oracle; a
    mismatch or an unreadable output marks the op failed."""
    import duckdb
    compare = load_comparator()
    sql = json.loads((out_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in ("customer", "nation", "region", "supplier", "part", "orders", "lineitem"):
        p = data_dir / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    expected = {}
    for op in raw["ops"]:
        if op["kind"] != "query" or not op["ok"]:
            continue
        q = op["name"]
        try:
            if q not in expected:
                expected[q] = con.execute(sql[q]).df()
            got = duckdb.sql(f"SELECT * FROM read_parquet('{op['output']}/*.parquet')").df()
            issues = [i for i in compare(q, got, expected[q]) if not i.startswith("NOTE")]
        except Exception as e:  # an unreadable output is a wrong answer
            issues = [f"check failed: {e}"]
        if issues:
            op["ok"] = False
            op["error"] = "wrong answer: " + "; ".join(issues)[:400]


def end_to_end(raw):
    """Every end-to-end figure this workload has, by name (None = n/a).
    Timings come from the measured ops; fail_ratio counts the warm-up too."""
    w = raw["workload"]
    ops = [o for o in raw["ops"] if o["phase"] != "warmup"]
    reads = [o["ms"] for o in ops if o["ok"] and o["kind"] == "read"]
    writes = [o["ms"] for o in ops if o["ok"] and o["kind"] == "write"]
    p90, p90_at = M.tail_percentile(reads, 90)
    n_reads = sum(1 for o in ops if o["kind"] == "read")
    # closed-loop rate over the time spent inside the program's ops (reads,
    # and the writes and queries interleaved with them); the bench's own
    # checks and input writes between ops are left out
    op_s = sum(o["ms"] for o in ops if o["kind"] in ("read", "write", "query")) / 1000.0
    out = {
        "setup_s": (M.median(raw["setup_s"]), "s", len(raw["setup_s"])),
        "read_p50_ms": (M.median(reads), "ms", len(reads)),
        "read_p90_ms": (p90, "ms", len(reads)),
        "reads_per_s": (M.ratio(n_reads, op_s), "1/s", n_reads),
        "fail_ratio": (M.fail_ratio(raw["ops"]), "ratio", len(raw["ops"])),
    }
    if w == "olap_cube":
        out["cache_mb"] = (raw.get("cache_mb"), "MB", 1)
    if w == "star_maintain":
        stores = [raw["store_dir"], raw["summary_dir"]]
        out["write_p50_ms"] = (M.median(writes), "ms", len(writes))
        out["write_amp"] = (M.write_amp(raw.get("bytes_written", 0), raw.get("delta_bytes", 0)),
                            "ratio", len(writes))
        out["space_amp"] = (M.space_amp(stores, raw["fresh_dir"]), "ratio", 1)
    return out, p90_at


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "BENCHMARK.json").is_file():
        fail("no BENCHMARK.json at the root of the checkout")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no program sources next to the bench (expected build.sbt and src/main/scala)")
    t_start = time.time()
    cfg, cores, conf = session_config()
    cp = build()
    t_built = time.time()
    WORK.mkdir(parents=True, exist_ok=True)
    raw_path = WORK / f"raw-{args.workload}-{args.seed}-{args.trace}.json"
    raw_path.unlink(missing_ok=True)
    rc = run_jvm(cp, args, raw_path, cfg, conf, time.time() + JVM_LIMIT_S)
    if not raw_path.exists():
        fail(f"the run wrote no record (exit {rc})", 1)
    raw = json.loads(raw_path.read_text())
    t_ran = time.time()
    if any(o["kind"] == "query" for o in raw["ops"]):
        check_outputs(raw, WORK / "data" / args.workload / f"seed-{args.seed}",
                      WORK / "out" / args.workload / str(args.seed))
    attempted, failed = M.counts(raw)
    phases = dict(build=t_built - t_start, jvm=t_ran - t_built,
                  check=time.time() - t_ran, **(raw.get("phases_s") or {}))
    for o in raw["ops"]:
        if not o["ok"]:
            log(f"FAILED {o['kind']} {o['name']}: {o['error']}")
    e2e, p90_at = end_to_end(raw)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.trace:
        import layers
        figures = layers.per_layer(raw, cores)
        # a layer the workload bypasses reads 0
        shown = {m["name"]: {"value": figures.get(m["name"], (0.0,))[0], "unit": m["unit"]}
                 for m in spec["per_layer"]}
    else:
        shown = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                 for m in spec["end_to_end"]}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "cores": cores,
        "load_avg": raw.get("load_avg"), "heap_max_mb": raw.get("heap_max_mb"),
        "jvm": raw.get("jvm"), "spark_version": raw.get("spark_version"),
        "session_conf": raw.get("session_conf"), "error": raw.get("error"),
        "read_p90_percentile_used": p90_at, "phases_s": phases,
        "metrics": {k: {"value": v[0], "unit": v[1], "samples": v[2]}
                    for k, v in e2e.items()},
    }
    print(json.dumps({"perfbench_record": record}))
    ok = failed == 0 and all(v["value"] is not None for v in shown.values())
    print(json.dumps({"correct": ok, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": shown}))
    sys.exit(0 if ok and rc == 0 else 1)


if __name__ == "__main__":
    main()
