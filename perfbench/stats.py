"""Arithmetic of the benchmark: turns the raw record a run writes (every
operation, job and sample, unreduced) into metrics.

Kept apart from the JVM side so it can be tested on its own:
    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import math
import re
import statistics

# Per workload, the operation that plays each role. Every workload has all
# three roles, so every end-to-end and per-layer metric named by role exists
# on every workload.
ROLES = {
    "ingest_commits": {"write": "append", "read": "fresh_read", "cold_open": "cold_open"},
    "corpus_dedup": {"write": "survivor_append", "read": "fresh_read", "cold_open": "cold_open"},
}

# Modules a job can be attributed to; a job whose call site holds no frame of
# the program is plain query execution started by the benchmark ("exec").
MODULES = ("log", "tx", "files", "stats", "commands", "ml", "api", "other", "exec")
_PROGRAM_FRAME = re.compile(r"^\s*(?:at\s+)?graft\.([A-Za-z0-9_$]+)\.")

# Time inside one program function, for a step the benchmark cannot time
# around because another public function calls it: metric -> (operation,
# frame pattern). keepBest runs connected components itself.
FRAME_SPLITS = {
    "ml.components_ms": ("dedup_pass", re.compile(r"graft\.ml\.Clustering\$\.\S*connectedComponents")),
}


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs, q=0.9, min_beyond=10, gap=1.5):
    """The q-quantile of xs (nearest rank), or None unless at least
    `min_beyond` samples lie strictly beyond it (a tail from fewer samples is
    one or two unlucky operations) and it does not sit on the edge between
    two modes, where the samples on either side of its rank differ by more
    than `gap` times (one run would read one mode, the next the other)."""
    if not xs:
        return None
    s = sorted(xs)
    rank = max(1, math.ceil(round(q * len(s), 9)))
    value = s[rank - 1]
    beyond = sum(1 for x in s if x > value)
    if beyond < min_beyond:
        return None
    below, above = s[max(0, rank - 2)], s[min(len(s) - 1, rank)]
    return None if above > gap * below else value


def interval_union(intervals):
    """Total length covered by a set of [start, end] intervals; overlapping
    jobs count once."""
    total = 0
    cur_start = cur_end = None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def module_of(call_site):
    """The program module a stage belongs to: the package of the innermost
    program frame in its long-form call site. Top-level classes
    (graft.Graft, graft.GraftTable) are the "api" module."""
    for line in call_site.splitlines():
        m = _PROGRAM_FRAME.match(line)
        if not m:
            continue
        pkg = m.group(1)
        if pkg[:1].isupper():
            return "api"
        return pkg if pkg in MODULES else "other"
    return "exec"


def job_module(job):
    """A job's module: that of its first stage that names one, else exec."""
    for site in job.get("call_sites", []):
        mod = module_of(site)
        if mod != "exec":
            return mod
    return "exec"


def _around(control, op_id):
    before, after = control.get(op_id), control.get(op_id + 1)
    if before is None or after is None:
        return before
    return (before + after) / 2


def _is_count(name):
    return not name.endswith("_ms")


def op_instances(raw):
    """Per measured operation: wall time and what its jobs did."""
    jobs_by_op = {}
    for j in raw.get("jobs", []):
        jobs_by_op.setdefault(j["op"], []).append(j)
    # Each operation is judged against the mean of the control run right
    # before it and the one right after it (the next operation's, or the
    # closing control the run adds after its last operation).
    control = {op_id: v for op_id, v in raw.get("samples", {}).get("control_ms", [])}
    out = []
    for o in raw["ops"]:
        if o["round"] < 1:
            continue
        js = jobs_by_op.get(o["id"], [])
        clip = [(max(j["start_ms"], o["start_ms"]), min(j["end_ms"], o["end_ms"])) for j in js]
        job_ms = interval_union(clip)
        inst = {
            "op": o["op"], "round": o["round"], "wall_ms": o["wall_ms"], "ok": o["ok"],
            "control_ms": _around(control, o["id"]),
            "spark.jobs": len(js),
            "spark.tasks": sum(j["tasks"] for j in js),
            "spark.shuffle_bytes": sum(j["shuffle_bytes"] for j in js),
            "spark.job_ms": job_ms,
            "driver_ms": max(0.0, o["wall_ms"] - job_ms),
        }
        for mod in MODULES:
            inst[mod + ".job_ms"] = interval_union(
                c for c, j in zip(clip, js) if job_module(j) == mod)
        for name, (op, frame) in FRAME_SPLITS.items():
            if o["op"] == op:
                inst[name] = interval_union(
                    c for c, j in zip(clip, js)
                    if any(frame.search(site) for site in j.get("call_sites", [])))
        out.append(inst)
    return out


def _reduce(name, instances):
    """Counts come from the first round, whose operations the seed fixes, so
    they repeat exactly; times are medians over every measured instance."""
    if _is_count(name):
        instances = [i for i in instances if i["round"] == 1] or instances
    return median([i[name] for i in instances])


def per_op_metrics(raw):
    """Every per-operation metric, named `<metric>.<op>`."""
    insts = op_instances(raw)
    ops = sorted({i["op"] for i in insts})
    out = {}
    for op in ops:
        mine = [i for i in insts if i["op"] == op]
        out[op + "_p50_ms"] = median([i["wall_ms"] for i in mine])
        rel = [i["wall_ms"] / i["control_ms"] for i in mine if i.get("control_ms")]
        if rel:
            out[op + "_p50_rel"] = median(rel)
        p90 = tail([i["wall_ms"] for i in mine])
        if p90 is not None:
            out[op + "_p90_ms"] = p90
        out["samples." + op] = len(mine)
        if raw.get("trace"):
            keys = ["spark.jobs", "spark.tasks", "spark.shuffle_bytes", "spark.job_ms",
                    "driver_ms"] + [m + ".job_ms" for m in MODULES]
            keys += [n for n, (o, _) in FRAME_SPLITS.items() if o == op]
            for k in keys:
                out[k + "." + op] = _reduce(k, mine)
    by_id = {o["id"]: o for o in raw["ops"] if o["round"] >= 1}
    for name, pairs in raw.get("samples", {}).items():
        if name == "control_ms":
            continue
        grouped = {}
        for op_id, v in pairs:
            o = by_id.get(op_id)
            if o is not None:
                grouped.setdefault(o["op"], []).append({"round": o["round"], name: v})
        for op, insts in grouped.items():
            out[name + "." + op] = _reduce(name, insts)
    return out


def metrics(raw):
    """All metrics of one run: the role-named ones BENCHMARK.json lists plus
    the operation-named ones of this workload."""
    roles = ROLES[raw["workload"]]
    per_op = per_op_metrics(raw)
    values = raw.get("values", {})
    out = dict(per_op)
    out.update(values)
    out["setup_s"] = raw["session_s"] + raw["warm_build_s"] + median(raw["build_s"])
    out["rows_per_s"] = raw["rows"] / raw["wall_s"]
    controls = [v for _, v in raw.get("samples", {}).get("control_ms", [])]
    if controls:
        out["control_p50_ms"] = median(controls)
        # Throughput in host-independent units: rows per control-job time,
        # each operation's time counted in the controls around it.
        work = sum(i["wall_ms"] / i["control_ms"] for i in op_instances(raw) if i["control_ms"])
        out["rows_per_control"] = raw["rows"] / work
    for role, op in roles.items():
        out[role + "_p50_ms"] = per_op.get(op + "_p50_ms")
        out[role + "_p50_rel"] = per_op.get(op + "_p50_rel")
        for k in ("spark.jobs", "spark.tasks", "spark.shuffle_bytes", "spark.job_ms",
                  "driver_ms", "scan.plan_ms", "scan.files_read", "scan.bytes_read",
                  "scan.files_total", "scan.listing_ms") + tuple(m + ".job_ms" for m in MODULES):
            if k + "." + op in per_op:
                out[k + "." + role] = per_op[k + "." + op]
    # Sub-steps recorded by only one operation type carry no role suffix.
    for k in ("log.refresh_ms", "log.cold_snapshot_ms", "log.tail_commits_at_open",
              "write.files_added", "write.files_removed", "write.bytes_per_changed_row"):
        op = {"log.refresh_ms": roles["read"], "log.cold_snapshot_ms": "cold_open",
              "log.tail_commits_at_open": "cold_open"}.get(k, roles["write"])
        if k + "." + op in per_op:
            out[k] = per_op[k + "." + op]
    if "dedup_pass_p50_ms" in per_op:
        out["dedup_pass_s"] = per_op["dedup_pass_p50_ms"] / 1000.0
    for k in ("ml.pairs_ms", "ml.components_ms", "ml.keep_best_ms", "ml.verified_pairs"):
        if k + ".dedup_pass" in per_op:
            out[k] = per_op[k + ".dedup_pass"]
    if "index_batch_p50_ms" in per_op:
        out["ml.index_batch_ms"] = per_op["index_batch_p50_ms"]
    # The MERGE's commit figures under the names the commands layer uses.
    for k, name in (("write.files_added", "merge.files_added"),
                    ("write.files_removed", "merge.files_removed"),
                    ("write.bytes_per_changed_row", "merge.bytes_written_per_changed_row")):
        if k + ".merge" in per_op:
            out[name] = per_op[k + ".merge"]
    return {k: v for k, v in out.items() if v is not None}


def outcome(raw):
    """(correct, attempted, failed) over the measured operations. A failed
    check fails its operation; problems outside them (set-up, warm-up, the
    final table check) make the run incorrect."""
    measured = [o for o in raw["ops"] if o["round"] >= 1]
    warm_ok = all(o["ok"] for o in raw["ops"] if o["round"] < 1)
    correct = warm_ok and not raw.get("final_problems")
    return correct, len(measured), sum(1 for o in measured if not o["ok"])


def quantiles(values):
    """(first quartile, median, third quartile), as the bounds are judged."""
    return tuple(statistics.quantiles(values, n=4))


def spread(values):
    """Distance between the first and third quartile as a share of the
    median."""
    q1, q2, q3 = quantiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


# Metrics that count work and must repeat exactly for one seed.
EXACT_COUNTS = ("spark.jobs.", "spark.tasks.", "spark.shuffle_bytes.", "scan.files_read.",
                "scan.bytes_read.", "scan.files_total.", "write.files_added",
                "write.files_removed", "write.bytes_per_changed_row",
                "log.tail_commits_at_open", "log.dir_files", "ml.verified_pairs",
                "ml.candidate_pairs")


def exact_counts(all_metrics):
    return {k: v for k, v in all_metrics.items() if k.startswith(EXACT_COUNTS)}
