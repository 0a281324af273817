"""Summaries and checks over the raw spans a benchmark run writes.

The Scala runner (`src/PerfBench.scala`) records every timed call into
the engine as a span and a few measured facts; everything here is pure
Python over that record, so it is unit-tested on its own
(`python3 -m unittest discover -s perfbench -p 'test_*.py'`).
"""

import statistics

# Span kinds that are one call into the engine: each is one attempted
# operation, checked for an error and, where recorded, its row count.
OPS = ("warmup", "extract_pass_1", "extract_pass_n",
       "extract_pass_n_untraced", "stage", "query", "check", "runall_cold",
       "runall_resumed")

# Layers a session stage or query belongs to; `checkpoints` is RunAll's.
SESSION_LAYERS = ("ingest", "extract", "canonicalize", "graph", "voice",
                  "lore", "style", "text", "worldbible", "query")

# End-to-end metrics, each reported by both workloads. A workload is a
# materialization set built and then read: `session` pins the 19 stages
# and answers the 56 queries from them; `runall` checkpoints its stages
# into an empty warehouse and then resumes from them.
END_TO_END_UNITS = {
    "setup_s": "s",
    "extract_triples_per_s": "1/s",
    "build_s": "s",
    "answer_s": "s",
    "total_s": "s",
    "stored_mb": "MB",
}

def quartiles(values):
    """(first quartile, median, third quartile) of `values`, as
    `statistics.quantiles(values, n=4)` gives them; one value is its own
    quartiles."""
    values = list(values)
    if not values:
        raise ValueError("no samples")
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def duration(span):
    return span["end"] - span["start"]


def adjusted(span):
    """The span's wall time less the share of the host's CPU demand that
    the hypervisor gave to other guests over it: steal ÷ (busy + steal)
    jiffies from /proc/stat. On a shared host this is most of the
    run-to-run spread; without steal it is the wall time."""
    steal, busy = span.get("steal_jiffies", 0), span.get("busy_jiffies", 0)
    return duration(span) * (1 - steal / (steal + busy)) if steal + busy else duration(span)


def self_times(spans):
    """Each span's duration minus the part of its interval that its
    child spans cover (overlapping children are counted once)."""
    children = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = duration(s) - covered
    return out


def check(raw, expected):
    """Check every operation of a run against the recorded expectations.

    Returns (attempted, failures, bad_ids): `failures` maps each failed
    operation to its reason, and `bad_ids` holds the ids of spans whose
    timing must not be used (a failed operation and every span that
    contains it). An exception, a row count that differs from
    `expected["rows"]`, a stage or query that did not run, a `RunAll`
    invariant row of the cold or the resumed run that is missing or not 0,
    and a resumed `RunAll` whose edge count or edge hash differs from the
    cold run's are failures.
    """
    spans = raw["spans"]
    by_id = {s["id"]: s for s in spans}
    rows = expected["rows"]
    attempted, failures, bad = 0, {}, set()

    def fail(key, span, reason):
        failures.setdefault(key, f"{span['name']}: {reason}")
        sid = span["id"]
        while sid is not None and sid not in bad:
            bad.add(sid)
            sid = by_id[sid]["parent"]

    for s in spans:
        if s["kind"] not in OPS and not s["error"]:
            continue
        attempted += 1
        if s["error"]:
            fail(s["id"], s, s["error"])
        elif s["name"] in rows and s["rows"] != rows[s["name"]]:
            fail(s["id"], s, f"{s['rows']} rows, expected {rows[s['name']]}")

    # every session runs each stage and query of the expectations
    wanted = {n for n in rows if n.startswith(("stage.", "query."))}
    for root in spans:
        if root["kind"] != "session":
            continue
        seen = {s["name"] for s in spans if s["kind"] in ("stage", "query")
                and by_id[s["parent"]]["parent"] == root["id"]}
        for name in sorted(wanted - seen):
            attempted += 1
            fail((root["id"], name), root, f"{name} did not run")
        for name in sorted(seen - wanted):
            fail((root["id"], name), root, f"{name} has no expectation")

    invariants = set(expected["invariants"])
    for cycle in (s for s in spans if s["kind"] == "runall"):
        parts = {s["kind"]: s for s in spans if s["parent"] == cycle["id"]}
        cold, resumed = parts.get("runall_cold"), parts.get("runall_resumed")
        for run in (cold, resumed):
            if run is None or run["error"]:
                continue
            seen = {f["name"]: f["value"] for f in raw["facts"]
                    if f["span"] == run["id"]
                    and f["name"].startswith("runall.invariant_")}
            for name in sorted(invariants | set(seen)):
                if name not in seen:
                    fail((run["id"], name), run, f"{name} not recorded")
                elif name not in invariants:
                    fail((run["id"], name), run, f"{name} has no expectation")
                elif seen[name] != 0:
                    fail((run["id"], name), run,
                         f"{name} = {seen[name]:g}, expected 0")
        if cold is None or cold["error"] or resumed is None or resumed["error"]:
            continue
        if resumed["rows"] != cold["rows"]:
            fail(resumed["id"], resumed,
                 f"{resumed['rows']} edges, the cold run had {cold['rows']}")
        hashes = [_fact(raw, "runall.edges_hash", run["id"]) for run in (cold, resumed)]
        if not all(hashes) or hashes[0] != hashes[1]:
            fail(resumed["id"], resumed,
                 f"edge hash {hashes[1]}, the cold run had {hashes[0]}")
    return attempted, list(failures.values()), bad


def _fact(raw, name, span=None):
    return [f["value"] for f in raw["facts"]
            if f["name"] == name and (span is None or f["span"] == span)]


def end_to_end_samples(raw, bad, workload):
    """Samples of every end-to-end metric, taken only from spans that
    passed their checks; times are steal-adjusted (see `adjusted`).
    `build_s`, `answer_s` and `stored_mb` are the session's stage builds,
    query answers and pinned stages, or RunAll's cold run, resumed run and
    warehouse."""
    spans = [s for s in raw["spans"] if s["id"] not in bad]
    kinds = {}
    for s in spans:
        kinds.setdefault(s["kind"], []).append(s)
    out = {"setup_s": [adjusted(s) for s in kinds.get("setup", [])]}
    n_passes = kinds.get("extract_pass_n", [])
    if n_passes:
        t_n = quartiles([adjusted(s) for s in n_passes])[1]
        out["extract_triples_per_s"] = [n_passes[0]["rows"] / t_n]
    parts = {}
    for s in spans:
        parts.setdefault(s["parent"], {})[s["kind"]] = s
    build, answer, stored = [], [], []
    roots, first, second, size = {
        "session": ("session", "stages", "queries", "session_pinned_mb"),
        "runall": ("runall", "runall_cold", "runall_resumed",
                   "runall_warehouse_mb"),
    }[workload]
    for root in kinds.get(roots, []):
        mine = parts.get(root["id"], {})
        mb = _fact(raw, size, mine[first]["id"]) if first in mine else []
        if second in mine and mb:
            build.append(adjusted(mine[first]))
            answer.append(adjusted(mine[second]))
            stored += mb
    total = [b + a for b, a in zip(build, answer)]
    out.update(build_s=build, answer_s=answer, total_s=total, stored_mb=stored)
    return {k: v for k, v in out.items() if v}


def _task_skew(task_ms):
    if not task_ms:
        return 0.0
    return max(task_ms) / max(1.0, statistics.median(task_ms))


def per_layer(raw):
    """Per-layer metrics of a traced run, as {name: (value, unit)}."""
    spans = raw["spans"]
    by_id = {s["id"]: s for s in spans}
    out = {}
    session = [s for s in spans if s["kind"] == "session"]

    def under(root):
        return [s for s in spans if s["parent"] is not None
                and by_id[s["parent"]]["parent"] == root["id"]
                and s["kind"] in ("stage", "query")]

    if session:
        ops = under(session[0])
        for s in ops:
            out[f"{s['name']}.s"] = (duration(s), "s")
        for layer in SESSION_LAYERS:
            mine = [s for s in ops if s["layer"] == layer]
            tasks = [t for s in mine for t in s.get("task_ms", [])]
            out[f"{layer}.shuffle_mb"] = (
                sum(s.get("shuffle_write_bytes", 0) for s in mine) / 1e6, "MB")
            out[f"{layer}.spill_mb"] = (
                sum(s.get("spill_bytes", 0) for s in mine) / 1e6, "MB")
            out[f"{layer}.gc_s"] = (
                sum(s.get("gc_ms", 0) for s in mine) / 1e3, "s")
            out[f"{layer}.task_skew"] = (_task_skew(tasks), "ratio")
        linked = _fact(raw, "extract.linked_mentions")
        ratio = [s for s in spans if s["name"] == "extract.linked_ratio"
                 and s["parent"] == session[0]["id"]]
        if linked and ratio and ratio[0]["rows"] > 0:
            out["extract.linked_ratio"] = (linked[-1] / ratio[0]["rows"], "ratio")

    passes = [s for s in spans if s["kind"] == "extract_pass_n"]
    if passes:
        def med(key):
            return statistics.median(s.get(key, 0) for s in passes)
        out["extract.fused.tasks"] = (med("tasks"), "count")
        out["extract.fused.gc_s"] = (med("gc_ms") / 1e3, "s")
        out["extract.fused.task_skew"] = (
            statistics.median(_task_skew(s.get("task_ms", [])) for s in passes),
            "ratio")
        out["extract.fused.scan_mb"] = (med("input_bytes") / 1e6, "MB")
        one = [duration(s) for s in spans if s["kind"] == "extract_pass_1"]
        cores = _fact(raw, "cores")[0]
        if one and cores > 1:
            # (t_1 / t_nproc) / nproc; a 1-core host has no second leg
            out["extract.scaling_efficiency_1v4"] = (
                statistics.median(one)
                / statistics.median(duration(s) for s in passes) / cores,
                "ratio")
        untraced = [duration(s) for s in spans
                    if s["kind"] == "extract_pass_n_untraced"]
        if untraced:
            # the same pass with and without the task listener, alternated
            out["trace.overhead_frac"] = (
                statistics.median(duration(s) for s in passes)
                / statistics.median(untraced) - 1, "ratio")

    colds = [s for s in spans if s["kind"] == "runall_cold"]
    if colds:
        cold = colds[0]
        out["checkpoints.write_mb"] = (cold.get("output_bytes", 0) / 1e6, "MB")
        wh = _fact(raw, "runall_warehouse_mb", cold["id"])
        passages = _fact(raw, "checkpoints.passages_mb", cold["id"])
        if wh and passages and passages[0] > 0:
            out["checkpoints.write_amp"] = (wh[0] / passages[0], "ratio")
        for name in ("checkpoints.commits", "checkpoints.cc_supersteps"):
            v = _fact(raw, name, cold["id"])
            if v:
                out[name] = (v[0], "count")
    resumed = [s for s in spans if s["kind"] == "runall_resumed"]
    if resumed:
        stages = _fact(raw, "runall.resumed_stages", resumed[0]["id"])
        if stages and stages[0] > 0:
            out["checkpoints.resume_s_per_stage"] = (
                duration(resumed[0]) / stages[0], "s")
    return out


def trace_lines(raw):
    """One trace record per span: name, parent, start, end, self time,
    rows, and the task metrics of the jobs it ran."""
    selfs = self_times(raw["spans"])
    keep = ("id", "name", "kind", "layer", "parent", "start", "end", "rows",
            "error", "tasks", "task_max_ms", "task_median_ms", "gc_ms",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "input_bytes", "output_bytes", "cpu_ns", "busy_jiffies",
            "steal_jiffies")
    for s in raw["spans"]:
        rec = {k: s[k] for k in keep if k in s}
        rec["self_s"] = selfs[s["id"]]
        yield rec
