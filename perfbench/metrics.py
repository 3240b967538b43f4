"""Metric arithmetic for perfbench: percentiles, span self time, failure
counting, and the end-to-end and per-layer metrics of one run's result.

The JVM side (perfbench/src) records raw spans, streaming progress and
check outcomes; everything derived from them is computed here.
"""
import math
import statistics

MIN_BEYOND = 10   # samples that must lie beyond a reported percentile


def rank_percentile(values, p, min_beyond=MIN_BEYOND):
    """Nearest-rank percentile p of values, lowered to the highest rank that
    still has at least min_beyond samples beyond it.

    Returns (value, effective percentile, sample count); value and
    percentile are None when fewer than min_beyond + 1 samples exist.
    """
    xs = sorted(values)
    n = len(xs)
    rank = min(math.ceil(p / 100.0 * n), n - min_beyond)
    if n == 0 or rank < 1:
        return None, None, n
    return xs[rank - 1], 100.0 * rank / n, n


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


def self_times(spans):
    """{span id: its duration minus the part its child spans cover}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered = union_length([(max(c["start_ms"], lo), min(c["end_ms"], hi))
                                for c in kids.get(s["id"], [])
                                if c["end_ms"] > lo and c["start_ms"] < hi])
        out[s["id"]] = (hi - lo) - covered
    return out


def failed_share(ops_ok, checks_ok):
    """(attempted, failed, share): timed operations and correctness checks
    both count as attempted; a failed one of either counts as failed."""
    outcomes = list(ops_ok) + list(checks_ok)
    attempted = len(outcomes)
    failed = sum(1 for ok in outcomes if not ok)
    return attempted, failed, (failed / attempted if attempted else 1.0)


def descendants(spans, root_id):
    """Spans below root_id (not including it)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c["id"])
    return out


def _one(spans, name):
    return next(s for s in spans if s["name"] == name)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def measured(result):
    """Spans inside the measured phase."""
    return descendants(result["spans"], _one(result["spans"], "measure")["id"])


def ops(result):
    """The run's operations: the workload's timed operations (micro-batches,
    the NLP pass, queries: layer "op") plus the noise sentinels."""
    return [s for s in measured(result) if s["layer"] == "op"] + [
        s for s in result["spans"] if s["name"] == "sentinel"]


def batches(result):
    """Progress of the measured stream's micro-batches, in order."""
    return result["records"].get("progress", [])


def steady_docs_per_s(result):
    """Docs landed per second after the first micro-batch, which carries the
    stream's start-up: rows the later batches' dedup admitted (each is a new
    id, so it lands) over the time from the first batch's end to the last's."""
    ops_ = sorted((s for s in measured(result) if s["name"] == "batch"),
                  key=lambda s: s["attrs"]["batch_id"])
    prog = {b["batch_id"]: b for b in batches(result)}
    later = [prog[s["attrs"]["batch_id"]]["state_rows_updated"] for s in ops_[1:]]
    return sum(later) / ((ops_[-1]["end_ms"] - ops_[0]["end_ms"]) / 1000.0)


def phase_ops(result, phase):
    """Timed operations of one measured phase (a workload of the run)."""
    spans = result["spans"]
    measure = _one(spans, "measure")
    return [s for p in spans if p["name"] == phase and p["parent"] == measure["id"]
            for s in descendants(spans, p["id"]) if s["layer"] == "op"]


def _walls_ms(spans):
    return [s["end_ms"] - s["start_ms"] for s in spans]


def by_phase(result):
    """The end-to-end figures of each measured phase, by phase."""
    m = {}
    if phase_ops(result, "ingest_steady"):
        trig = [b["duration_ms"].get("triggerExecution", 0) for b in batches(result)]
        m["ingest_docs_per_s"] = steady_docs_per_s(result)
        m["ingest_batch_p50_ms"] = _median(trig)
        m["ingest_batch_p80_ms"] = rank_percentile(trig, 80)[0]
    nlp = phase_ops(result, "nlp_batch")
    if nlp:
        m["nlp_wall_s"] = _median(_walls_ms(nlp)) / 1000.0
    queries = phase_ops(result, "query_mix")
    if queries:
        m["query_total_s"] = sum(_walls_ms(queries)) / 1000.0
        m["query_p50_ms"] = _median(_walls_ms(queries))
    return m


def end_to_end(result, docs):
    """The end-to-end metrics every workload reports (see README.md):
    wall time of the measured phase, docs through the pipeline per second
    (landed at steady state, or analysed by the NLP pass), the process CPU
    time the measured phase used, and peak resident memory. `docs` is the
    generated input's doc count."""
    measure = _one(result["spans"], "measure")
    phase = by_phase(result)
    if "ingest_docs_per_s" in phase:
        docs_per_s = phase["ingest_docs_per_s"]
    else:
        docs_per_s = docs / phase["nlp_wall_s"]
    return {"wall_s": (measure["end_ms"] - measure["start_ms"]) / 1000.0,
            "docs_per_s": docs_per_s,
            "cpu_s": _delta(measure, "process_cpu_ms") / 1000.0,
            "peak_rss_mb": result["peak_rss_kb"] / 1024.0}


def measure_steal_s(result):
    """Machine-wide hypervisor steal during the measured phase, in s."""
    return _delta(_one(result["spans"], "measure"), "steal_ms") / 1000.0


def percentile_notes(result):
    """Per phase: the timing sample count and the highest percentile the
    sample supports (at least MIN_BEYOND samples beyond it)."""
    samples = {
        "ingest_steady": [b["duration_ms"].get("triggerExecution", 0) for b in batches(result)],
        "nlp_batch": _walls_ms(phase_ops(result, "nlp_batch")),
        "query_mix": _walls_ms(phase_ops(result, "query_mix")),
    }
    out = {}
    for phase, xs in samples.items():
        if xs:
            value, eff, n = rank_percentile(xs, 99)
            out[phase] = {"samples": n, "highest_supported_percentile": eff, "value_ms": value}
    return out


def _spark_totals(spans):
    keys = ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "gc_ms")
    tot = {k: sum(s.get("spark", {}).get(k, 0) for s in spans) for k in keys}
    tot["peak_exec_mem_bytes"] = max([s.get("spark", {}).get("peak_exec_mem_bytes", 0)
                                      for s in spans] + [0])
    tot["records_written"] = sum(s.get("spark", {}).get("records_written", 0) for s in spans)
    return tot


def _delta(span, key):
    b, a = span.get("before", {}).get(key, -1), span.get("after", {}).get(key, -1)
    return a - b if a >= 0 and b >= 0 else 0


def per_layer(result):
    """Every per-layer metric of a traced result; a layer the workload does
    not exercise reads 0."""
    spans = result["spans"]
    measure = _one(spans, "measure")
    inside = descendants(spans, measure["id"])
    wall = measure["end_ms"] - measure["start_ms"]
    sp = _spark_totals(inside)
    m = {
        "spark.jobs": sp["jobs"], "spark.stages": sp["stages"], "spark.tasks": sp["tasks"],
        "spark.ms_per_stage": wall / sp["stages"] if sp["stages"] else 0.0,
        "spark.task_cpu_s": sp["task_cpu_ms"] / 1000.0,
        "spark.task_run_s": sp["task_run_ms"] / 1000.0,
        "spark.parallelism": sp["task_run_ms"] / wall if wall else 0.0,
        "spark.shuffle_write_bytes": sp["shuffle_write_bytes"],
        "spark.shuffle_read_bytes": sp["shuffle_read_bytes"],
        "spark.spill_bytes": sp["spill_bytes"], "spark.gc_ms": sp["gc_ms"],
        "spark.peak_exec_mem_bytes": sp["peak_exec_mem_bytes"],
        "host.steal_ms": _delta(measure, "steal_ms"),
        "host.process_cpu_ms": _delta(measure, "process_cpu_ms"),
    }
    m.update(streaming_layer(result, inside))
    m.update(nlp_layer(inside, spans))
    m.update(query_layer(result, inside))
    return m


def _children(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], {})[s["name"]] = s
    return kids


def sink_series(spans):
    """Per micro-batch, in batch order: sink append time, rows the append
    read (the sink probe), rows it appended, and sink files after it."""
    kids = _children(spans)
    out = []
    for b in sorted((s for s in spans if s["name"] == "batch"),
                    key=lambda s: s["attrs"]["batch_id"]):
        app = kids.get(b["id"], {}).get("sink_append")
        if app is None:
            continue
        sp = app.get("spark", {})
        out.append({"batch": b["attrs"]["batch_id"],
                    "sink_append_ms": app["end_ms"] - app["start_ms"],
                    "sink_probe_rows": sp.get("records_read", 0),
                    "rows_appended": sp.get("records_written", 0),
                    "sink_files": b["attrs"].get("sink_files", 0)})
    return out


def streaming_layer(result, inside):
    """Streaming runtime and sink metrics; times are per-batch medians."""
    prog = batches(result)
    kids = _children(inside)
    dd = [kids.get(s["id"], {}).get("decode_dedup") for s in inside if s["name"] == "batch"]
    rows = sink_series(inside)
    appended = sum(r["rows_appended"] for r in rows)
    probed = sum(r["sink_probe_rows"] for r in rows)
    q = len(rows) // 4
    early = _median([r["sink_append_ms"] for r in rows[:q]])
    late = _median([r["sink_append_ms"] for r in rows[-q:]]) if q else 0.0
    dur = [b["duration_ms"] for b in prog]
    return {
        "streaming.plan_ms": _median([d.get("queryPlanning", 0) for d in dur]),
        "streaming.offsets_ms": _median([d.get("latestOffset", 0) + d.get("walCommit", 0)
                                         + d.get("commitOffsets", 0) for d in dur]),
        "streaming.decode_dedup_ms": _median([d["end_ms"] - d["start_ms"] for d in dd if d]),
        "streaming.state_rows": prog[-1]["state_rows"] if prog else 0,
        "streaming.state_mem_bytes": max([b["state_mem_bytes"] for b in prog] + [0]),
        "streaming.state_commit_ms": _median([b["state_commit_ms"] for b in prog]),
        "streaming.dup_rows_dropped": sum(b.get("state_custom", {}).get("numDroppedDuplicateRows", 0)
                                          for b in prog),
        "streaming.sink_append_ms": _median([r["sink_append_ms"] for r in rows]),
        "streaming.sink_probe_rows": probed / len(rows) if rows else 0.0,
        "streaming.sink_files": max([r["sink_files"] for r in rows] + [0]),
        "streaming.sink_useful_ratio": appended / (probed + appended) if appended else 0.0,
        "streaming.sink_late_over_early": late / early if early else 0.0,
    }


def nlp_layer(inside, spans):
    """NLP times are medians over repetitions; featurize and vocab come from
    the traced run's probe after the measured phase."""
    def med(name, among=inside):
        return _median([s["end_ms"] - s["start_ms"] for s in among if s["name"] == name])
    vocab = [s["attrs"].get("vocab_size", 0) for s in spans if s["name"] == "vocab"]
    return {"nlp.featurize_ms": med("featurize", spans), "nlp.fit_ms": med("fit"),
            "nlp.topics_ms": med("topics"),
            "nlp.vocab_size": vocab[0] if vocab else 0}


def query_layer(result, inside):
    def total(name):
        return sum(s["end_ms"] - s["start_ms"] for s in inside if s["name"] == name)
    return {"query.build_ms": total("build"), "query.exec_ms": total("exec"),
            "query.exchanges": sum(s["attrs"].get("exchanges", 0)
                                   for s in phase_ops(result, "query_mix"))}


def layer_self_ms(result):
    """Self time summed per layer over the measured phase."""
    spans = result["spans"]
    measure = _one(spans, "measure")
    inside = descendants(spans, measure["id"])
    st = self_times(inside + [measure])
    out = {}
    for s in inside + [measure]:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out
