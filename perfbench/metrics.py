"""Pure functions that turn the harness's raw record into metrics.

Kept free of I/O so `tests/test_metrics.py` can pin the arithmetic: the tail
percentile and its sample count, failure accounting, and span self time.
"""
import math
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values, beyond=10):
    """The highest whole percentile with at least `beyond` samples above it.

    Returns (value, percentile, sample_count). The value is the nearest-rank
    percentile: the k-th smallest sample with k = ceil(p/100 * n), so exactly
    n - k >= `beyond` samples lie beyond it. With `beyond` or fewer samples
    no percentile qualifies and the value is None.
    """
    n = len(values)
    if n <= beyond:
        return None, None, n
    p = (100 * (n - beyond)) // n
    k = max(1, math.ceil(p * n / 100))
    return sorted(values)[k - 1], p, n


def tail_metric(values):
    """query_tail_s: the tail percentile when one above the median qualifies
    (at least 20 samples), else the maximum. Returns (value, description).
    """
    t, p, n = tail(values)
    if t is None or p < 50:
        return max(values, default=0.0), (
            f"max of {n} lane latencies (under 20 samples, no percentile above "
            f"the median has 10 beyond it)")
    return t, f"p{p} of {n} lane latencies ({n - math.ceil(p * n / 100)} beyond it)"


def failures(samples, reference, expect):
    """Count lane executions that did not return the reference result.

    A sample fails when it threw or timed out (`status` other than "ok"),
    when its (rows, hash) differs from `reference[lane]`, when its lane has
    no reference, or, for round-trip lanes, when it differs from the hash
    of its source frame in `expect`. Each execution counts at most once.
    Returns (attempted, failed, reasons) with one reason per failure.
    """
    reasons = []
    for s in samples:
        lane, got = s["lane"], (s["rows"], s["hash"])
        ref = reference.get(lane)
        if s["status"] != "ok":
            why = f"{s['status']}: {s.get('error', '')}"
        elif ref is None:
            why = "no reference result"
        elif got != (ref["rows"], ref["hash"]):
            why = f"result {got} != reference {(ref['rows'], ref['hash'])}"
        elif lane in expect and got != (expect[lane]["rows"], expect[lane]["hash"]):
            why = "read-back differs from its source frame"
        else:
            continue
        reasons.append(f"pass {s['pass']} {lane}: {why}")
    return len(samples), len(reasons), reasons


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover.

    Children may overlap each other (concurrent jobs of one action) and may
    stick out of the parent; only the covered part inside the parent counts.
    """
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children if ce > s and cs < e]
    return (e - s) - union_length(clipped)


def assign_parents(spans):
    """Give each span with parent -1 (Spark jobs, streaming batches) the
    innermost other span whose interval contains its start. Lanes run one at
    a time, so this attribution is exact. Returns {id: parent id}.
    """
    owners = [s for s in spans if s["parent"] != -1 or s["name"] == "run"]
    parent = {s["id"]: s["parent"] for s in owners}
    for s in spans:
        if s["id"] in parent:
            continue
        holders = [o for o in owners if o["start"] <= s["start"] <= o["end"]]
        parent[s["id"]] = min(holders, key=lambda o: o["end"] - o["start"])["id"] if holders else 0
    return parent


def span_self_times(spans):
    """Self time (same unit as the spans) of every span, keyed by id."""
    parent = assign_parents(spans)
    kids = {}
    for s in spans:
        kids.setdefault(parent[s["id"]], []).append((s["start"], s["end"]))
    return {s["id"]: self_time((s["start"], s["end"]), kids.get(s["id"], [])) for s in spans}


def is_writer(lane):
    """Ingest round-trip lanes (the `graft.sources` writers) are named w_*;
    every other lane is a catalog lane."""
    return lane.startswith("w_")


def end_to_end(raw):
    """End-to-end metrics of an untraced run. Returns (metrics, notes)."""
    timed = [s for s in raw["samples"] if s["kind"] == "timed" and s["status"] == "ok"]
    lat = [s["build_s"] + s["action_s"] for s in timed]
    tail_s, tail_note = tail_metric(lat)
    walls = [p["wall_s"] for p in raw["passes"] if p["kind"] == "timed"]
    m = {
        "setup_s": (raw["setup_s"], "s"),
        "pass_s": (median(walls), "s"),
        "query_p50_s": (median(lat), "s"),
        "query_tail_s": (tail_s, "s"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }
    return m, [f"query_tail_s is the {tail_note}"]


def per_layer(raw, source_bytes_per_row):
    """Per-layer metrics of a traced run, per traced pass.

    `source_bytes_per_row` is the parquet size per row of the table the
    ingest writers copy, for `sources.bytes_per_input_byte`.
    """
    c = lambda k: raw["counts"].get(k, 0.0)
    traced = [p for p in raw["passes"] if p["kind"] == "traced"]
    untraced = [p for p in raw["passes"] if p["kind"] == "untraced"]
    scaling = [p for p in raw["passes"] if p["kind"] == "scaling"]
    n = max(1, len(traced))
    traced_ids = {p["pass"] for p in traced}
    ts = [s for s in raw["samples"] if s["pass"] in traced_ids and s["status"] == "ok"]
    writers = [s for s in ts if is_writer(s["lane"])]
    spans = raw["spans"]
    parent = assign_parents(spans)
    by_id = {s["id"]: s for s in spans}
    selfs = span_self_times(spans)
    # the catalog layer is the query functions: builds of catalog lanes only
    builds = [s for s in spans if s["name"] == "build"
              and not is_writer(by_id[parent[s["id"]]]["name"].removeprefix("lane "))]
    build_ids = {b["id"] for b in builds}
    build_jobs = sum(1 for s in spans if s["name"].startswith("job ") and parent[s["id"]] in build_ids)
    build_s = sum(s["build_s"] for s in ts if not is_writer(s["lane"]))
    all_result_rows = sum(s["rows"] for s in ts)
    trigger_s = c("streaming.trigger_s")
    walls_t = [p["wall_s"] for p in traced]
    walls_u = [p["wall_s"] for p in untraced]
    # the candidate funnel: join output and result rows of the pair lanes
    join_rows, result_rows = c("operators.join_rows_out"), c("operators.result_rows")
    m = {
        "catalog.build_s": (build_s / n, "s"),
        "catalog.build_jobs": (build_jobs / n, "count"),
        "catalog.build_self_s": (sum(selfs[b["id"]] for b in builds) / 1e3 / n, "s"),
        "spark.jobs": (c("spark.jobs") / n, "count"),
        "spark.stages": (c("spark.stages") / n, "count"),
        "spark.tasks": (c("spark.tasks") / n, "count"),
        "spark.floor_ms": (raw["floor_ms"], "ms"),
        "spark.job_overhead_s": (c("spark.jobs") / n * raw["floor_ms"] / 1e3, "s"),
        "catalyst.analysis_s": (c("catalyst.analysis_s") / n, "s"),
        "catalyst.optimization_s": (c("catalyst.optimization_s") / n, "s"),
        "catalyst.planning_s": (c("catalyst.planning_s") / n, "s"),
        "catalyst.plan_nodes": (c("catalyst.plan_nodes") / n, "count"),
        "spark.task_run_s": (c("spark.task_run_s") / n, "s"),
        "spark.task_cpu_s": (c("spark.task_cpu_s") / n, "s"),
        "spark.gc_s": (c("spark.gc_s") / n, "s"),
        "spark.core_busy_frac": (c("spark.task_run_s") / max(1e-9, sum(walls_t) * raw["cpus"]), "ratio"),
        "spark.scaling": (scaling[0]["wall_s"] / median(walls_u) if scaling and walls_u else 0.0, "ratio"),
        "shuffle.write_bytes": (c("shuffle.write_bytes") / n, "bytes"),
        "shuffle.read_bytes": (c("shuffle.read_bytes") / n, "bytes"),
        "shuffle.fetch_wait_s": (c("shuffle.fetch_wait_s") / n, "s"),
        "spill.disk_bytes": (c("spill.disk_bytes") / n, "bytes"),
        "Tables.input_rows": (c("Tables.input_rows") / n, "count"),
        "Tables.input_bytes": (c("Tables.input_bytes") / n, "bytes"),
        "Tables.rows_per_result_row": (c("Tables.input_rows") / all_result_rows if all_result_rows else 0.0, "ratio"),
        "operators.join_rows_out": (join_rows / n, "count"),
        "operators.result_rows": (result_rows / n, "count"),
        "operators.yield": (result_rows / join_rows if join_rows else 0.0, "ratio"),
        "streaming.batches": (c("streaming.batches") / n, "count"),
        "streaming.input_rows": (c("streaming.input_rows") / n, "count"),
        "streaming.trigger_s": (trigger_s / n, "s"),
        "streaming.addBatch_s": (c("streaming.addBatch_s") / n, "s"),
        "streaming.queryPlanning_s": (c("streaming.queryPlanning_s") / n, "s"),
        "streaming.walCommit_s": (c("streaming.walCommit_s") / n, "s"),
        "streaming.commitOffsets_s": (c("streaming.commitOffsets_s") / n, "s"),
        "streaming.state_commit_s": (c("streaming.state_commit_s") / n, "s"),
        "streaming.state_rows": (c("streaming.state_rows") / n, "count"),
        "streaming.state_mem_bytes": (c("streaming.state_mem_bytes") / n, "bytes"),
        "streaming.harness_s": ((build_s - trigger_s) / n if c("streaming.batches") else 0.0, "s"),
        "sources.write_s": (sum(s["build_s"] for s in writers) / n, "s"),
        "sources.read_s": (sum(s["action_s"] for s in writers) / n, "s"),
        "sources.output_bytes": (c("sources.output_bytes") / n, "bytes"),
        "sources.bytes_per_input_byte": (
            c("sources.output_bytes") / (sum(s["rows"] for s in writers) * source_bytes_per_row)
            if writers else 0.0, "ratio"),
        "driver.heap_after_gc_mb": (raw["heap_after_gc_mb"], "MB"),
        "driver.gc_s": (raw["driver_gc_s"] / max(1, len(traced) + len(untraced)), "s"),
        "trace.overhead_frac": (median(walls_t) / median(walls_u) - 1.0 if walls_u else 0.0, "ratio"),
    }
    return m
