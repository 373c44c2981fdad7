"""Per-layer metrics of a traced run, from its spans and the listener's
per-job totals. A job belongs to the span that was open on the thread that
submitted it. Set-up figures come from the timed set-ups; every other
figure from the traced half of the measured window. A layer the workload
bypasses reads 0."""
import metrics as M

MB = 1048576.0
# layers with spans in the measured window (builders run in set-up only)
LAYERS = ("model", "io", "operators", "queries")
TIMED = ("read", "write", "query")


def per_layer(raw, cores):
    """Map metric name -> (value, unit)."""
    spans = raw["spans"]
    jobs = raw["jobs"]
    by_id = {s["id"]: s for s in spans}
    meas = [s for s in spans if s["name"] == "measure" and s["kind"] == "workload"]
    w0, w1 = (meas[0]["start_ms"], meas[0]["end_ms"]) if meas else (0.0, 0.0)
    inwin = [s for s in spans if s["start_ms"] >= w0 and s["end_ms"] <= w1]
    split = raw.get("untraced_ops", 0)
    ops = [o for o in raw["ops"][split:] if o["kind"] in TIMED]
    untraced = [o for o in raw["ops"][:split] if o["phase"] != "warmup"]
    reads = [o for o in ops if o["kind"] == "read" and o["ok"]]
    writes = [o for o in ops if o["kind"] == "write" and o["ok"]]
    selfs = M.self_times(spans)

    def jobs_of(ss):
        ids = {s["id"] for s in ss}
        return [j for j in jobs if j["span"] in ids]

    def tot(js, key):
        return sum(j[key] for j in js)

    def dur(s):
        return s["end_ms"] - s["start_ms"]

    def med(xs):
        return M.median(xs) if xs else 0.0

    def per(n, d):
        return n / d if d else 0.0

    def pick(layer=None, kind=None, name=None):
        return [s for s in inwin if (layer is None or s["layer"] == layer) and
                (kind is None or s["kind"] == kind) and (name is None or s["name"] == name)]

    def under(s, root):
        while s is not None:
            if s["id"] == root["id"]:
                return True
            s = by_id.get(s["parent"])
        return False

    out = {}
    setups = [s for s in spans if s["name"] == "setup" and s["kind"] == "setup"]
    n_setups = max(1, len(setups))
    b_spans = [s for s in spans if s["layer"] == "builders" and any(under(s, r) for r in setups)]
    b_jobs = jobs_of(b_spans)
    out["builders.build_s"] = (
        med([sum(dur(s) for s in b_spans if under(s, r)) for r in setups]) / 1000.0, "s")
    out["builders.jobs"] = (per(len(b_jobs), n_setups), "count")
    out["builders.shuffle_mb"] = (per(tot(b_jobs, "shuffle_bytes"), n_setups) / MB, "MB")
    out["builders.cache_mb"] = ((raw.get("cache_mb") or 0.0) if b_spans else 0.0, "MB")

    comp, ex = pick("model", "compose"), pick("model", "execute")
    cj, ej, n = jobs_of(comp), jobs_of(ex), len(ex)
    out["model.compose_ms"] = (med([dur(s) for s in comp]), "ms")
    out["model.compose_jobs"] = (per(len(cj), len(comp)), "count")
    out["model.plan_ms"] = (med([o["plan_ms"] for o in reads]) if ex else 0.0, "ms")
    out["model.exec_ms"] = (med([dur(s) for s in ex]), "ms")
    out["model.jobs_per_read"] = (per(len(ej), n), "count")
    out["model.stages_per_read"] = (per(tot(ej, "stages"), n), "count")
    out["model.tasks_per_read"] = (per(tot(ej, "tasks"), n), "count")
    out["model.shuffle_mb_per_read"] = (per(tot(ej, "shuffle_bytes"), n) / MB, "MB")
    out["model.file_scan_mb_per_read"] = (per(tot(ej, "input_bytes"), n) / MB, "MB")
    out["model.gc_ms_per_read"] = (per(tot(ej, "gc_ms"), n), "ms")

    out["io.ingest_ms"] = (med([dur(s) for s in pick(name="ingestIntoStarOnce")]), "ms")
    out["io.retract_ms"] = (med([dur(s) for s in pick(name="retractFromStarOnce")]), "ms")
    out["io.jobs_per_write"] = (per(len(jobs_of(pick("io", "write"))), len(writes)), "count")
    out["io.bytes_written"] = (per(sum(o["bytes_written"] for o in writes), len(writes)), "bytes")
    out["io.partitions_rewritten"] = (
        per(sum(o["partitions_rewritten"] for o in writes), len(writes)), "count")
    store = M.dir_stats(raw["store_dir"]) if raw.get("store_dir") else (0, 0)
    summ = M.dir_stats(raw["summary_dir"]) if raw.get("summary_dir") else (0, 0)
    out["io.store_mb"] = (store[0] / MB, "MB")
    out["io.store_files"] = (store[1], "count")
    out["io.load_ms"] = (med([dur(s) for s in pick(name="CubeIO.loadStar")]), "ms")

    nav_w = pick(name="refreshSummariesOnce") + pick(name="retractSummariesOnce")
    routed = [o for o in reads if "routed" in o]
    out["operators.nav_refresh_ms"] = (med([dur(s) for s in nav_w]), "ms")
    out["operators.nav_jobs_per_refresh"] = (per(len(jobs_of(nav_w)), len(nav_w)), "count")
    out["operators.nav_route_ratio"] = (
        per(sum(1 for o in routed if o["routed"]), len(routed)), "ratio")
    out["operators.nav_rows_read_per_row_returned"] = (
        per(tot(jobs_of(pick("operators", "execute")), "input_records"),
            sum(o["rows"] for o in routed)), "ratio")
    out["operators.nav_store_mb"] = (summ[0] / MB, "MB")

    # per run of each SparkEntry query in the traced half
    for q in sorted({o["name"] for o in ops if o["kind"] == "query"}):
        qj = jobs_of(pick("queries", name=q))
        runs = [o for o in ops if o["kind"] == "query" and o["name"] == q]
        out[f"queries.{q}.s"] = (med([o["ms"] for o in runs if o["ok"]]) / 1000.0, "s")
        out[f"queries.{q}.jobs"] = (per(len(qj), len(runs)), "count")
        out[f"queries.{q}.shuffle_mb"] = (per(tot(qj, "shuffle_bytes"), len(runs)) / MB, "MB")
        out[f"queries.{q}.spill_mb"] = (per(tot(qj, "spill_bytes"), len(runs)) / MB, "MB")
        out[f"queries.{q}.gc_ms"] = (per(tot(qj, "gc_ms"), len(runs)), "ms")

    for layer in LAYERS:
        out[f"{layer}.self_ms"] = (per(sum(selfs[s["id"]] for s in pick(layer)), len(ops)), "ms")

    win_jobs = [j for j in jobs if w0 <= j["submit_ms"] <= w1]
    out["spark.core_busy_ratio"] = (
        M.core_busy_ratio(tot(win_jobs, "run_ms"), w1 - w0, cores) or 0.0, "ratio")
    out["spark.scheduler_delay_ms"] = (per(tot(win_jobs, "sched_delay_ms"), len(ops)), "ms")
    out["spark.unattributed_jobs"] = (sum(1 for j in jobs if j["span"] == -1), "count")
    # GC time is sampled over the whole measured window, both halves
    out["jvm.gc_ms"] = (per(raw.get("gc_ms", 0), sum(
        1 for o in raw["ops"] if o["kind"] in TIMED and o["phase"] != "warmup")), "ms")
    out["jvm.heap_peak_mb"] = (raw.get("heap_peak_mb", 0.0), "MB")

    # the halves hold different mixes of ops, so compare each op name with
    # itself and report the median change
    def by_name(os_):
        d = {}
        for o in os_:
            if o["ok"] and o["kind"] in TIMED:
                d.setdefault(o["name"], []).append(o["ms"])
        return d
    t, u = by_name(ops), by_name(untraced)
    changes = [M.median(t[k]) / M.median(u[k]) - 1.0 for k in t if k in u]
    out["trace.overhead_pct"] = (100.0 * M.median(changes) if changes else 0.0, "%")
    return out
