"""Per-layer metrics of a traced run.

Inputs: the benchmark's spans (one ``query`` span per step with its
build and action children, tagged with the pass label as run id), the
parsed event log, the steps' streaming progress, and the run's
untraced timings.  Every figure is per pass: the median over the
traced measured passes.  A layer that a workload does not exercise
reads 0, and :func:`compute` says why in its ``notes`` map (which also
flags figures drawn from few samples).
"""

from __future__ import annotations

from statistics import median

from .eventlog import FILE_SCAN, EventLog, Node
from .stats import MIN_BEYOND, percentile, samples_beyond, tail_percentile
from .trace import Span, clipped, self_times, union_length
from .workloads import WC_PASSES

BUILD_SPANS = ("spec.fn", "operators.wordcount.word_counts_from_text_dir")
ACTION_SPANS = ("action.collect", "sources.sinks.write_reference_format")
PY_METRICS = {
    "python.boot_s": ("time to start Python workers", 1e-3),
    "python.init_s": ("time to initialize Python workers", 1e-3),
    "python.run_s": ("time to run Python workers", 1e-3),
    "python.bytes_sent": ("data sent to Python workers", 1.0),
    "python.bytes_received": ("data returned from Python workers", 1.0),
}
DEDUP_STEP = "dedup_prefix_filter"

NAMES = (
    "session.get_spark_s", "registry.collect_specs_s", "registry.collect_specs_repeat_s",
    "setup.warm_s", "memory.peak_rss_mb", "operators.build_s", "operators.build_jobs",
    "spark.exec_s", "spark.jobs", "spark.stages", "spark.tasks", "spark.stage_gap_s",
    "spark.task_run_s", "spark.task_cpu_s", "spark.core_util", "spark.gc_s",
    "sources.scan_s", "sources.scan_tasks", "sources.scan_rows", "sources.scan_bytes",
    "sources.sink_s", "sources.sink_bytes",
    "shuffle.write_bytes", "shuffle.write_s", "shuffle.fetch_wait_s", "shuffle.records", "spill.bytes",
    "aggregate.build_s", "aggregate.partial_reduction",
    *PY_METRICS,
    "dedup.candidate_pairs", "dedup.candidate_precision",
    "streaming.batches", "streaming.add_batch_s", "streaming.commit_s", "streaming.state_commit_s",
    "streaming.state_rows", "streaming.state_bytes", "streaming.microbatch_p50_s", "streaming.microbatch_p75_s",
    "wordcount.reader_mapper_s", "wordcount.sender_s", "wordcount.receiver_s",
    "wordcount.speedup", "wordcount.efficiency", "wordcount.karp_flatt", "wordcount.words_per_s",
    "trace.overhead_ratio",
)

COUNTS = ("jobs", "stages", "tasks", "rows", "records", "batches", "pairs")


def unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(COUNTS):
        return "count"
    return "ratio"


def _rows_below(node: Node, log: EventLog) -> float | None:
    """Output rows of the nearest descendant that counts rows, walking
    through single-child operators that do not change the row count."""
    while node is not None:
        if "number of output rows" in node.metrics:
            return log.value(node.metrics["number of output rows"][0])
        node = node.children[0] if len(node.children) == 1 else None
    return None


def _verified_candidates(execution: int, log: EventLog) -> float:
    """Candidate pairs entering the exact-Jaccard verify: rows on the
    streamed side of the join whose condition intersects the two
    shingle arrays."""
    for node in log.operators(execution):
        if "array_intersect(" in node.desc and "number of output rows" in node.metrics and node.children:
            return _rows_below(node.children[0], log) or 0.0
    return 0.0


class _Pass:
    """Event-log records and spans of one traced pass."""

    def __init__(self, label: str, spans: list[Span], log: EventLog, steps) -> None:
        self.spans = [s for s in spans if s.run == label]
        self.steps = steps
        self.queries = [s for s in self.spans if s.name == "query"]
        windows = [(s.start, s.end) for s in self.queries]

        def inside(t: float) -> bool:
            return any(a <= t <= b for a, b in windows)

        self.jobs = [j for j in log.jobs.values() if inside(j.submit)]
        owner: dict[int, int] = {}
        for j in sorted(log.jobs.values(), key=lambda j: j.id):
            for sid in j.stage_ids:
                owner.setdefault(sid, j.id)
        ids = {j.id for j in self.jobs}
        self.stages = [st for sid, st in log.stages.items() if owner.get(sid) in ids and st.tasks]
        self.exec_job_ids = {j.id for j in self.jobs if j.group.endswith("/exec")}
        self.exec_stages = [st for st in self.stages if owner.get(st.id) in self.exec_job_ids]
        self.executions = [e for e in log.executions.values() if inside(e.start)]


def compute(*, workload: str, cores: int, log: EventLog, spans: list[Span], traced,
            untraced, setup: dict, local1_walls: list[float] | None,
            words: int | None) -> tuple[dict[str, float], dict[str, str]]:
    """Return (per-layer metrics, notes on metrics that read 0 or rest on few samples)."""
    passes = [_Pass(p.label, spans, log, p.steps) for p in traced]
    own = self_times(spans)
    per: dict[str, list[float]] = {}

    def spans_named(p: _Pass, names) -> list[Span]:
        return [s for s in p.spans if s.name in names]

    stream_steps = {st.name for p in traced for st in p.steps if st.batches}
    per["operators.build_s"] = [sum(own[s.id] for s in spans_named(p, BUILD_SPANS)
                                    if _query_of(p, s) not in stream_steps) for p in passes]
    per["operators.build_jobs"] = [sum(1 for j in p.jobs if j.group.endswith("/build")) for p in passes]
    exec_s = [sum(own[s.id] for s in spans_named(p, ACTION_SPANS)) for p in passes]
    per["spark.exec_s"] = exec_s
    per["spark.jobs"] = [len(p.jobs) for p in passes]
    per["spark.stages"] = [len(p.stages) for p in passes]
    per["spark.tasks"] = [sum(st.tasks for st in p.stages) for p in passes]
    stage_iv = [(st.submit, st.complete) for st in log.stages.values() if st.complete]
    per["spark.stage_gap_s"] = [
        sum(s.duration - union_length(clipped(stage_iv, s.start, s.end)) for s in spans_named(p, ACTION_SPANS))
        for p in passes
    ]
    per["spark.task_run_s"] = [sum(st.run_ms for st in p.stages) / 1e3 for p in passes]
    per["spark.task_cpu_s"] = [sum(st.cpu_ns for st in p.stages) / 1e9 for p in passes]
    per["spark.core_util"] = [
        sum(st.run_ms for st in p.exec_stages) / 1e3 / (e * cores) if e else 0.0
        for p, e in zip(passes, exec_s)
    ]
    per["spark.gc_s"] = [sum(st.gc_ms for st in p.stages) / 1e3 for p in passes]

    def scan_stages(p: _Pass):
        return [st for st in p.stages if st.reads_files]

    per["sources.scan_s"] = [sum(st.run_ms for st in scan_stages(p)) / 1e3 for p in passes]
    per["sources.scan_tasks"] = [sum(st.tasks for st in scan_stages(p)) for p in passes]
    per["sources.scan_bytes"] = [sum(st.input_bytes for st in p.stages) for p in passes]
    per["sources.sink_s"] = [sum(own[s.id] for s in spans_named(p, ("sources.sinks.write_reference_format",)))
                             for p in passes]
    per["sources.sink_bytes"] = [sum(st.output_bytes for st in p.stages) for p in passes]
    per["shuffle.write_bytes"] = [sum(st.shuffle_write_bytes for st in p.stages) for p in passes]
    per["shuffle.write_s"] = [sum(st.shuffle_write_ns for st in p.stages) / 1e9 for p in passes]
    per["shuffle.fetch_wait_s"] = [sum(st.fetch_wait_ms for st in p.stages) / 1e3 for p in passes]
    per["shuffle.records"] = [sum(st.shuffle_records for st in p.stages) for p in passes]
    per["spill.bytes"] = [sum(st.spill_bytes for st in p.stages) for p in passes]

    def sql_sum(p: _Pass, node_pred, metric: str) -> float:
        total = 0.0
        for ex in p.executions:
            for acc, (node, mname, _t) in log.metric_ids(ex.id).items():
                if mname == metric and node_pred(node):
                    total += log.value(acc)
        return total

    per["sources.scan_rows"] = [sql_sum(p, lambda n: bool(FILE_SCAN.match(n)), "number of output rows")
                                for p in passes]
    per["aggregate.build_s"] = [sql_sum(p, lambda n: n.endswith("HashAggregate"), "time in aggregation build") / 1e3
                                for p in passes]
    for name, (metric, scale) in PY_METRICS.items():
        per[name] = [sql_sum(p, lambda n: True, metric) * scale for p in passes]

    reductions = []
    for p in passes:
        rows_in = rows_out = 0.0
        for ex in p.executions:
            for node in log.operators(ex.id):
                if node.name.endswith("HashAggregate") and "partial_" in node.desc and len(node.children) == 1:
                    below = _rows_below(node.children[0], log)
                    if below:
                        rows_in += below
                        rows_out += log.value(node.metrics["number of output rows"][0])
        reductions.append(rows_out / rows_in if rows_in else 0.0)
    per["aggregate.partial_reduction"] = reductions

    cands, precisions = [], []
    for p in passes:
        c = r = 0.0
        for q in p.queries:
            if q.attrs.get("query") != DEDUP_STEP:
                continue
            act = next(s for s in p.spans if s.parent == q.id and s.name == "action.collect")
            step = next(st for st in p.steps if st.name == DEDUP_STEP)
            for ex in p.executions:
                if act.start <= ex.start <= act.end:
                    c += _verified_candidates(ex.id, log)
            if step.output:
                r += len(step.output[2])
        cands.append(c)
        precisions.append(r / c if c else 0.0)
    per["dedup.candidate_pairs"] = cands
    per["dedup.candidate_precision"] = precisions

    def batch_sum(p, fn) -> float:
        return sum(fn(b) for st in p.steps for b in st.batches)

    def last_state(p, key) -> float:
        total = 0.0
        for st in p.steps:
            if st.batches:
                total += sum(op.get(key, 0) for op in st.batches[-1].get("stateOperators", []))
        return total

    per["streaming.batches"] = [batch_sum(p, lambda b: 1) for p in traced]
    per["streaming.add_batch_s"] = [batch_sum(p, lambda b: b["durationMs"].get("addBatch", 0)) / 1e3 for p in traced]
    per["streaming.commit_s"] = [batch_sum(p, lambda b: b["durationMs"].get("walCommit", 0)
                                           + b["durationMs"].get("commitOffsets", 0)) / 1e3 for p in traced]
    per["streaming.state_commit_s"] = [
        batch_sum(p, lambda b: sum(op.get("commitTimeMs", 0) for op in b.get("stateOperators", []))) / 1e3
        for p in traced
    ]
    per["streaming.state_rows"] = [last_state(p, "numRowsTotal") for p in traced]
    per["streaming.state_bytes"] = [last_state(p, "memoryUsedBytes") for p in traced]

    out = {name: float(median(v)) if v else 0.0 for name, v in per.items()}
    notes: dict[str, str] = {}

    batch_s = [b["durationMs"].get("triggerExecution", 0) / 1e3
               for p in untraced for st in p.steps for b in st.batches]
    out["streaming.microbatch_p50_s"] = percentile(batch_s, 50) if batch_s else 0.0
    out["streaming.microbatch_p75_s"] = percentile(batch_s, 75) if batch_s else 0.0
    for p in (50, 75):
        if batch_s and samples_beyond(len(batch_s), p) < MIN_BEYOND:
            notes[f"streaming.microbatch_p{p}_s"] = (
                f"reported, but from only {len(batch_s)} micro-batches: fewer than {MIN_BEYOND} "
                f"beyond p{p} (the highest percentile with {MIN_BEYOND} beyond is "
                f"{tail_percentile(len(batch_s))})")

    wall_u = median([p.seconds for p in untraced])
    wall_t = median([p.seconds for p in traced])
    out["trace.overhead_ratio"] = wall_t / wall_u

    wc = {k: 0.0 for k in ("wordcount.reader_mapper_s", "wordcount.sender_s", "wordcount.receiver_s",
                           "wordcount.speedup", "wordcount.efficiency", "wordcount.karp_flatt",
                           "wordcount.words_per_s")}
    if workload == "wordcount_corpus":
        rm, snd, rcv = [], [], []
        for p in passes:
            scans = scan_stages(p)
            rest = [st for st in p.stages if st not in scans]
            rm.append(sum(st.run_ms - st.shuffle_write_ns / 1e6 for st in scans) / 1e3 / cores)
            snd.append(sum(st.shuffle_write_ns for st in scans) / 1e9 / cores)
            rcv.append(sum(st.run_ms for st in rest) / 1e3 / cores)
        wc["wordcount.reader_mapper_s"] = median(rm)
        wc["wordcount.sender_s"] = median(snd)
        wc["wordcount.receiver_s"] = median(rcv)
        wc["wordcount.words_per_s"] = words * WC_PASSES / wall_u
        if local1_walls:
            s = median(local1_walls) / wall_u
            wc["wordcount.speedup"] = s
            wc["wordcount.efficiency"] = s / cores
            wc["wordcount.karp_flatt"] = (1 / s - 1 / cores) / (1 - 1 / cores) if cores > 1 else 0.0
    else:
        for k in wc:
            notes[k] = "word-count stage table is measured on wordcount_corpus only"
    out.update(wc)
    out.update(setup)

    for name in NAMES:
        out.setdefault(name, 0.0)
        if out[name] == 0.0 and name not in notes:
            notes[name] = "layer idle in this workload's traced passes"
    return {name: out[name] for name in NAMES}, notes


def _query_of(p: _Pass, span: Span) -> str | None:
    q = next((s for s in p.queries if s.id == span.parent), None)
    return q.attrs.get("query") if q else None
